package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** Connected components over an edge list, as alternating large-star /
  * small-star DataFrame rounds (Kiveris et al. 2014, "Connected
  * Components in MapReduce and Beyond") — the shuffle-native replacement
  * for the reference's cuGraph WCC
  * (stages/deduplication/fuzzy/connected_components.py:37-202).
  *
  * Each round is two groupBys over (long, long) pairs only — no wide rows
  * ever shuffle. Dedup graphs are forests of shallow near-clique
  * clusters, so rounds ≈ O(log diameter) — typically 3-5.
  */
object ConnectedComponents {

  /** Edge-count threshold below which the component computation runs as
    * driver-side union-find on the collected edge list. Dedup edge
    * lists are tiny relative to the corpus (only near-dup pairs) but the
    * iterative rounds cost ~0.5 s of fixed scheduler latency EACH; a
    * 100k-edge union-find is microseconds. The distributed star rounds
    * take over automatically past the threshold — the 100 TB path is
    * unchanged.
    */
  val SmallGraphEdges = 100000L

  /** edges(src: long, dst: long) -> (id: long, component: long) where
    * component is the minimum id in the connected component.
    */
  def run(edges: DataFrame, maxIterations: Int = 25,
          smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // ids must already be integral: casting strings would throw under
    // ANSI mode (Spark 4 default) and silently null out every edge with
    // ANSI off (dedup would become a no-op) — fail loudly instead;
    // string ids hash to longs via xxhash64 at the call site
    for (f <- edges.schema.take(2)) {
      val ok = f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType ||
        f.dataType == org.apache.spark.sql.types.ShortType
      require(ok, s"ConnectedComponents needs integral src/dst ids; ${f.name} is ${f.dataType}. " +
        "Map string ids through xxhash64 first.")
    }

    var e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter($"src" =!= $"dst")
      .distinct()
      .cache()

    if (e.count() <= smallGraphEdges) {
      val result = unionFind(e.as[(Long, Long)].collect())
      e.unpersist()
      return spark.createDataset(result).toDF("id", "component")
    }

    // XOR fingerprint, not sum: ids may be full-range xxhash64 values and
    // summing them overflows under ANSI mode (Spark 4 default)
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(src, dst))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var prev = (-1L, 0L)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      // symmetrize each round — large-star needs the full neighborhood
      val sym = e.union(e.select($"dst".as("src"), $"src".as("dst")))
        .filter($"src" =!= $"dst").distinct()

      // large-star: connect every neighbor v > u to min(Γ(u) ∪ {u})
      val ls = sym.groupBy($"src")
        .agg(least(min($"dst"), first($"src")).as("mn"), collect_set($"dst").as("nbrs"))
      val largeStar = ls.select($"src", $"mn", explode($"nbrs").as("v"))
        .filter($"v" > $"src")
        .select($"v".as("src"), $"mn".as("dst"))
        .union(ls.select($"src", $"mn".as("dst")))
        .filter($"src" =!= $"dst")
        .distinct()

      // small-star: orient high→low, connect all smaller neighbors + self to min
      val oriented = largeStar.select(
        greatest($"src", $"dst").as("src"), least($"src", $"dst").as("dst"))
      val ss = oriented.groupBy($"src")
        .agg(min($"dst").as("mn"), collect_set($"dst").as("nbrs"))
      // materializing truncates the logical plan: without it the
      // union-of-unions lineage doubles per round and Catalyst
      // re-analysis grows exponentially (observed: 4.6s → 30s → minutes
      // per round on a 381-edge graph)
      val next = Materialize(ss.select($"src", $"mn", explode($"nbrs").as("v"))
        .select($"v".as("src"), $"mn".as("dst"))
        .union(ss.select($"src", $"mn".as("dst")))
        .filter($"src" =!= $"dst")
        .distinct())

      val cs = checksum(next)
      converged = cs == prev
      prev = cs
      e.unpersist()
      e = next
      iter += 1
    }

    val comp = e.select(greatest($"src", $"dst").as("id"), least($"src", $"dst").as("component"))
      .groupBy($"id").agg(min($"component").as("component"))
    comp.select($"component".as("id"), $"component").distinct()
      .union(comp)
      .groupBy($"id").agg(min($"component").as("component"))
  }

  /** Driver-side union-find with path compression + union-by-min:
    * (id, component=min id of component) for every vertex in `edges`.
    */
  def unionFind(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrDefault(root, root) != root) root = parent.getOrDefault(root, root)
      var cur = x
      while (cur != root) { val nxt = parent.getOrDefault(cur, cur); parent.put(cur, root); cur = nxt }
      root
    }
    edges.foreach { case (a, b) =>
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        // union by MIN so the root IS the component id
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val vertices = scala.collection.mutable.LinkedHashSet.empty[Long]
    edges.foreach { case (a, b) => vertices += a; vertices += b }
    vertices.toSeq.map(v => (v, find(v)))
  }
}
