package graft.app

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.extract.CommonCrawlExtractor
import graft.pipeline.CurationPipeline
import graft.sources.{CCUrls, WarcDownloader, WarcParser}

/** The reference's flagship acquisition flow end to end
  * (tutorials/text/common-crawl + stages/text/download/common_crawl):
  * snapshot window → warc.paths listings → data URLs → distributed
  * download (skip-if-exists resume, atomic rename) → WARC record
  * iteration → HTML extraction (decode fallback + lang gate + stop-list
  * dispatch) → 28-filter curation → parquet.
  *
  *   spark-submit --class graft.app.CommonCrawlApp graft.jar \
  *     2023-14 2023-14 /data/warc /data/out [limit] [--fixture]
  *
  * Fetching is INJECTED (CCUrls/WarcDownloader take a `fetch` fn):
  * `--fixture` serves deterministic in-memory listings + WARCs built
  * from the CCPages generator — the zero-egress mode this sandbox runs
  * and the spec asserts; without it a plain HTTP fetcher is wired for
  * cluster deploys.
  */
object CommonCrawlApp {

  /** Deterministic zero-egress fetcher: collinfo → 2 snapshots,
    * warc.paths.gz → `shards` warc names, data url → a WARC stream of
    * `docsPerShard` CCPages rows (disjoint slice per shard).
    */
  def fixtureFetch(spark: SparkSession, shards: Int = 4, docsPerShard: Int = 250): String => Array[Byte] = {
    // fixture-only: the generated corpus is collected to the driver, so
    // cap its size — cluster deploys wire the HTTP fetcher instead
    val total = shards.toLong * docsPerShard
    require(total <= 100000,
      s"fixtureFetch collects all pages to the driver; $total docs exceeds the " +
        "100k fixture cap — use the HTTP fetcher for real crawls")
    val pages = graft.fixtures.CCPages.generate(spark, (shards * docsPerShard).toLong, partitions = 4)
      .select("url", "html").collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    def gzip(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(s.getBytes("UTF-8")); gz.close()
      bos.toByteArray
    }
    url =>
      if (url.endsWith("collinfo.json"))
        """[{"id":"CC-MAIN-2023-14"},{"id":"CC-MAIN-2023-06"}]""".getBytes("UTF-8")
      else if (url.endsWith("warc.paths.gz"))
        gzip((0 until shards).map(i => f"crawl-data/CC-MAIN-2023-14/seg/warc/shard-$i%05d.warc.gz").mkString("\n"))
      else {
        val shard = "shard-(\\d+)".r.findFirstMatchIn(url).map(_.group(1).toInt).getOrElse(0)
        WarcParser.buildWarc(
          pages.slice(shard * docsPerShard, (shard + 1) * docsPerShard).toSeq)
      }
  }

  /** Open + status-check one HTTP connection (non-200 fails loudly
    * instead of parsing an error body). Shared by both fetchers so
    * timeout/status policy can't diverge between them.
    */
  private def openConn(url: String): java.net.HttpURLConnection = {
    val conn = java.net.URI.create(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(120000)
    val code = conn.getResponseCode
    require(code == 200, s"HTTP $code for $url")
    conn
  }

  /** Plain HTTP fetcher for small driver-side listings (collinfo,
    * warc.paths.gz) on cluster deploys — never called in-sandbox.
    */
  def httpFetch: String => Array[Byte] = url => {
    val conn = openConn(url)
    val in = conn.getInputStream
    try in.readAllBytes() finally { in.close(); conn.disconnect() }
  }

  /** Streaming HTTP fetcher for WARC shard downloads (cluster deploys):
    * copies network → file in chunks, so a ~1 GiB shard never
    * materializes in executor memory.
    */
  def httpStreamFetch: (String, java.io.OutputStream) => Unit = (url, out) => {
    val conn = openConn(url)
    val in = conn.getInputStream
    try in.transferTo(out) finally { in.close(); conn.disconnect() }
  }

  /** The composed pipeline, callable from tests: returns the curated
    * kept-rows frame (url, language, text + annotations) after writing.
    */
  def run(spark: SparkSession, startSnapshot: String, endSnapshot: String,
          downloadDir: String, outDir: String,
          fetch: String => Array[Byte], limit: Option[Int] = None,
          streamFetch: Option[(String, java.io.OutputStream) => Unit] = None): DataFrame = {
    val snapshotIds = CCUrls.parseCollinfoIds(
      new String(fetch("https://index.commoncrawl.org/collinfo.json"), "UTF-8"))
    val pathUrls = CCUrls.mainPathUrls(startSnapshot, endSnapshot, snapshotIds)
    val dataUrls = CCUrls.generateDataUrls(pathUrls, fetch, limit)

    // shard downloads stream network -> file when a streaming fetcher
    // is wired (cluster deploys); the byte fetcher is the fixture seam
    val downloader = streamFetch.map(new WarcDownloader(downloadDir, _))
      .getOrElse(new WarcDownloader(downloadDir, fetch))
    // one action drives all downloads; resume = skip-if-exists per file
    val downloaded = downloader.downloadAll(
      WarcDownloader.urlDataset(spark, dataUrls, partitions = math.max(1, dataUrls.size)))
    // driver-side file list: same metadata scale as dataUrls (one path
    // per shard), and scoping the curation to EXACTLY the files this
    // run downloaded keeps stale files in a shared downloadDir out
    val localPaths = downloaded.select("local_path").collect().map(_.getString(0)).toSeq
    require(localPaths.nonEmpty,
      s"no WARC shards downloaded from ${dataUrls.size} urls (all fetches failed)")
    val nFiles = localPaths.size

    val records = WarcParser.read(spark, localPaths)
    val extracted = new CommonCrawlExtractor().extractColumns(records, htmlCol = "content")
    val curated = CurationPipeline.keptOutput(
      CurationPipeline.curate(extracted.drop("warc_id", "source_id")))
    curated.write.mode(SaveMode.Overwrite).parquet(outDir)
    val out = spark.read.parquet(outDir)
    println(s"[cc] files=$nFiles kept=${out.count()} -> $outDir")
    out
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: CommonCrawlApp <start> <end> <downloadDir> <outDir> [limit] [--fixture]")
    val limit = args.drop(4).find(_.forall(_.isDigit)).map(_.toInt)
    val fixture = args.contains("--fixture")
    val spark = graft.Session("graft-common-crawl")
    val fetch = if (fixture) fixtureFetch(spark) else httpFetch
    val streamFetch = if (fixture) None else Some(httpStreamFetch)
    run(spark, args(0), args(1), args(2), args(3), fetch, limit, streamFetch)
    spark.stop()
  }
}
