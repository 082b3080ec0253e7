package graft.pipeline

import scala.jdk.CollectionConverters._

/** The one YAML config reader, shared by all three dialects
  * (ConfigPipeline's `stages:` and `workflow:` forms and
  * AudioConfigPipeline's Hydra `processors:` form).
  *
  * `load` opens the file through [[graft.classify.Artifacts.resolve]]
  * (so a `src/main/resources/...` path also resolves from the jar) and
  * builds the var table once: top-level scalars, shadowed by
  * `overrides`, fixpoint-resolved so a var may reference another
  * (`output_dir: ${raw_data_dir}/result`). One rule covers nulls and
  * interpolation everywhere:
  *
  *   - a top-level null is an unset var;
  *   - a field whose whole value is `${v}` for an unset `v` reads as
  *     absent, exactly like a missing or null field;
  *   - a `${v}` for an unset `v` embedded in a longer string fails, as
  *     does a `${v}` naming no top-level key (dotted Hydra references
  *     such as `${hydra.run.dir}` included);
  *   - a value that resolves to anything containing `???` (a required
  *     override that was not given, directly or through a var chain)
  *     fails when it is read.
  */
object YamlVars {

  type Node = Map[String, Object]

  private val Ref = "\\$\\{([\\w.]+)\\}".r

  final class Config private[YamlVars] (path: String, val root: Node,
                                        vars: Map[String, String], unset: Set[String]) {

    /** The list of maps under `k` (a `stages:` / `workflow:` /
      * `processors:` list); fails when there is none.
      */
    def nodes(m: Node, k: String): Vector[Node] = m.get(k) match {
      case Some(l: java.util.List[_]) => l.asScala.toVector.map(n => asNode(n.asInstanceOf[java.util.Map[_, _]]))
      case _ => throw new IllegalArgumentException(s"$path has no `$k:` list")
    }

    def node(m: Node, k: String): Option[Node] =
      m.get(k).collect { case n: java.util.Map[_, _] => asNode(n) }

    /** Field `k` of `m` after interpolation; None when it is missing,
      * null, or a whole-value `${v}` of an unset var.
      */
    def get(m: Node, k: String): Option[String] = interpolated(m, k).map { r =>
      require(!r.contains("???"),
        s"config value '$k' resolves to '$r' — an unresolved required " +
          "override (???); pass it in `overrides`")
      r
    }

    /** True when field `k` of `m` holds a value: not missing, not
      * unset, and not a required override (`???`) still waiting for one.
      */
    def isSet(m: Node, k: String): Boolean = interpolated(m, k).exists(!_.contains("???"))

    def str(m: Node, k: String): String =
      get(m, k).getOrElse(throw new IllegalArgumentException(s"$path: missing $k"))
    def str(m: Node, k: String, d: String): String = get(m, k).getOrElse(d)
    def dbl(m: Node, k: String, d: Double): Double = get(m, k).fold(d)(_.toDouble)
    def int(m: Node, k: String, d: Int): Int = get(m, k).fold(d)(_.toInt)
    def bool(m: Node, k: String, d: Boolean): Boolean = get(m, k).fold(d)(_.toBoolean)

    /** The simple class name of a node's `_target_`. */
    def target(m: Node): String = str(m, "_target_").split('.').last

    /** A raw string interpolated against the var table; None for a
      * whole-value `${v}` of an unset var.
      */
    private def interpolate(raw: String): Option[String] = raw match {
      case Ref(v) if unset(v) => None
      case _ =>
        val r = Ref.replaceAllIn(raw, m =>
          java.util.regex.Matcher.quoteReplacement(vars.getOrElse(m.group(1), m.matched)))
        Ref.findFirstMatchIn(r).foreach { m =>
          val v = m.group(1)
          throw new IllegalArgumentException(
            if (unset(v)) s"config var $${$v} is null and cannot be embedded in '$raw'"
            else s"unresolved config var $${$v} in '$raw'")
        }
        Some(r)
    }

    private def interpolated(m: Node, k: String): Option[String] =
      m.get(k).flatMap(scalar).flatMap(interpolate)
  }

  def load(path: String, overrides: Map[String, String] = Map.empty): Config = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    val file = new java.io.File(graft.classify.Artifacts.resolve(path))
    val root = asNode(mapper.readValue(file, classOf[java.util.Map[String, Object]])) ++ overrides
    val (vars, unset) = fixpoint(
      root.collect { case (k, v) if scalar(v).isDefined => k -> scalar(v).get },
      root.collect { case (k, null) => k }.toSet)
    new Config(path, root, vars, unset)
  }

  private def asNode(m: java.util.Map[_, _]): Node =
    m.asInstanceOf[java.util.Map[String, Object]].asScala.toMap

  private def scalar(v: Object): Option[String] = v match {
    case s: String => Some(s)
    case n: Number => Some(n.toString)
    case b: java.lang.Boolean => Some(b.toString)
    case _ => None
  }

  /** Resolve var-to-var references until nothing changes. A var whose
    * whole value is `${u}` for an unset `u` becomes unset itself; any
    * other reference that cannot resolve stays in place and fails when
    * read. Bounded so a circular reference raises instead of spinning.
    */
  private def fixpoint(vars0: Map[String, String],
                        unset0: Set[String]): (Map[String, String], Set[String]) = {
    var vars = vars0
    var unset = unset0
    var rounds = 0
    var changed = true
    while (changed) {
      require(rounds < 20,
        s"circular $${var} interpolation in config vars: ${vars0.keys.mkString(", ")}")
      val nulled = vars.collect { case (k, Ref(u)) if unset(u) => k }
      val next = (vars -- nulled).map { case (k, v) =>
        k -> Ref.replaceAllIn(v, m =>
          java.util.regex.Matcher.quoteReplacement(vars.getOrElse(m.group(1), m.matched)))
      }
      changed = nulled.nonEmpty || next != vars
      vars = next
      unset ++= nulled
      rounds += 1
    }
    (vars, unset)
  }
}
