package graft.classify

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Artifact path resolution shared by the classifier loaders and the
  * YAML config reader.
  *
  * Committed artifacts live under `src/main/resources/` (`models/`,
  * `config/`) and are therefore ALSO on the classpath. Executor-side UDFs
  * must not depend on the driver's working directory (a CWD-relative
  * path only works when the main runs from the repo root in local
  * mode), so resolution order is:
  *
  *   1. the path as given, if it exists on the local filesystem
  *      (absolute deploy paths, tests writing fixture artifacts);
  *   2. the classpath resource (path suffix after `src/main/resources/`,
  *      or the raw path as a resource name), extracted ONCE per JVM to
  *      a temp file — the per-JVM model caches key on the returned
  *      temp path, so the copy happens at most once per executor.
  */
private[graft] object Artifacts {

  private val extracted = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Local filesystem path for `path`, extracting from the classpath
    * when the file is absent; throws with both attempted locations.
    */
  def resolve(path: String): String = {
    if (Files.exists(Paths.get(path))) return path
    val resource = {
      val marker = "src/main/resources/"
      val i = path.indexOf(marker)
      if (i >= 0) path.substring(i + marker.length) else path
    }
    extracted.computeIfAbsent(resource, r => {
      val in = Option(Thread.currentThread().getContextClassLoader.getResourceAsStream(r))
        .orElse(Option(getClass.getClassLoader.getResourceAsStream(r)))
        .getOrElse(throw new java.io.FileNotFoundException(
          s"artifact not found: no file at '$path' and no classpath resource '$r'"))
      try {
        val suffix = r.replaceAll(".*/", "_")
        val tmp = Files.createTempFile("graft_artifact_", suffix)
        tmp.toFile.deleteOnExit()
        Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING)
        tmp.toString
      } finally in.close()
    })
  }
}
