package graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode
/** Prints `explain("formatted")` for the core operators over an sf dir
  * (the plans PLANS.md cites), or for the named catalog entries instead:
  *
  *   sbt "runMain graft.PlanDump <sfDir> [entry ...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Session("graft-plan-dump")
    def fmt(df: org.apache.spark.sql.DataFrame) = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"##### $name")
      println(fmt(df))
    }
    if (args.length > 1) {
      args.drop(1).foreach(name => dump(name, SparkEntry.queries(name)(spark, dir)))
    } else {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      dump("curate_kept", graft.pipeline.CurationPipeline.keptOutput(graft.pipeline.CurationPipeline.curate(docs)).select("doc_id","text"))
      dump("cascade_pruned", graft.filters.Cascade.score(docs).select("doc_id","keep"))
      dump("dedup_exact_removal", graft.dedup.ExactDedup.removeDuplicates(docs))
      dump("minhash_lsh_edges", graft.dedup.MinHashLSH.candidateEdges(docs))
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      dump("knn_brute", graft.sim.Knn.bruteForceTopK(emb, emb.filter(col("vec_id")%50===0), 5))
      dump("q2_join", SparkEntry.queries("q2_join")(spark, dir))
      dump("q3_topk", SparkEntry.queries("q3_topk")(spark, dir))
      dump("knn_lsh_candidates_then_rerank",
        graft.sim.Knn.lshTopK(emb, emb.filter(col("vec_id") % 50 === 0), 5, 64, 32, 6))
      dump("semantic_ranked",
        graft.dedup.SemanticDedup.removalIdsRanked(emb, k = 8, eps = 0.7))
    }
    spark.stop()
  }
}
