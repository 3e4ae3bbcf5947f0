package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{AdjRow, CsrRow, EdgeRow, VertexDeg}
import org.apache.spark.storage.StorageLevel
import scala.reflect.runtime.universe.TypeTag

/** Graph-substrate operators over the (src, dst, weight) edge table:
  * degrees, vertex extraction, undirected view, and the Spark-native CSR
  * (per-vertex sorted adjacency + Vose alias tables).
  *
  * Reference analogues (SURVEY.md §2.2): degree computation
  * include/graph.hpp:445-459 (P2), CSR build include/graph.hpp:309-330
  * (P5), alias build include/walk.hpp:538-652 (T2).
  */
object GraphOps {

  /** All vertices appearing in the edge table. */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("v"))
      .unionAll(edges.select(col("dst").as("v")))
      .distinct()

  /** Undirected view: each edge emitted both ways (reference "load as
    * undirected", include/graph.hpp:430-443, P1). */
  def undirect(edges: DataFrame): DataFrame =
    edges.select("src", "dst", "weight")
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"), col("weight")))

  /** Per-vertex in/out degree and weight sums; vertices with no edges in a
    * direction get zeros. Partial+final hash aggregation is the
    * reference's MPI_Allreduce (P2). */
  def degrees(edges: DataFrame): Dataset[VertexDeg] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val out = edges.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("outDeg"), sum("weight").as("outW"))
    val in = edges.groupBy(col("dst").as("v"))
      .agg(count(lit(1)).as("inDeg"), sum("weight").as("inW"))
    out.join(in, Seq("v"), "full_outer")
      .select(
        col("v"),
        coalesce(col("outDeg"), lit(0L)).as("outDeg"),
        coalesce(col("inDeg"), lit(0L)).as("inDeg"),
        coalesce(col("outW"), lit(0.0)).as("outW"),
        coalesce(col("inW"), lit(0.0)).as("inW"))
      .as[VertexDeg]
  }

  /** Vose alias-table construction over unnormalized weights — O(n),
    * numerically robust two-worklist formulation. Returns (prob, alias):
    * sample i uniform; accept i if u2 < prob(i) else alias(i). Same math
    * as the reference's init_alias_tables (include/walk.hpp:538-652),
    * re-derived from the published alias method (Vose 1991). */
  def buildAlias(wts: Array[Double]): (Array[Double], Array[Int]) = {
    val n = wts.length
    val prob = new Array[Double](n)
    val alias = new Array[Int](n)
    val total = wts.sum
    val scaled = new Array[Double](n)
    var i = 0
    while (i < n) { scaled(i) = wts(i) * n / total; i += 1 }
    val small = new java.util.ArrayDeque[Int]()
    val large = new java.util.ArrayDeque[Int]()
    i = 0
    while (i < n) { (if (scaled(i) < 1.0) small else large).addLast(i); i += 1 }
    while (!small.isEmpty && !large.isEmpty) {
      val s = small.pollLast(); val l = large.pollLast()
      prob(s) = scaled(s); alias(s) = l
      scaled(l) = (scaled(l) + scaled(s)) - 1.0
      (if (scaled(l) < 1.0) small else large).addLast(l)
    }
    while (!large.isEmpty) { val l = large.pollLast(); prob(l) = 1.0; alias(l) = l }
    while (!small.isEmpty) { val s = small.pollLast(); prob(s) = 1.0; alias(s) = s }
    (prob, alias)
  }

  /** Per-vertex CSR rows: adjacency sorted by neighbour id (for
    * array_contains probes) + alias tables for O(1) weighted sampling.
    * One shuffle (groupBy src); intended to be built once and persisted
    * across all walk iterations. */
  def adjacency(edges: DataFrame): Dataset[AdjRow] = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges
      .groupBy(col("src").as("v"))
      .agg(sort_array(collect_list(struct(col("dst"), col("weight")))).as("adj"))
      .as[(Long, Array[(Long, Double)])]
      .map { case (v, adj) =>
        val nbrs = adj.map(_._1)
        val wts = adj.map(_._2)
        val (prob, alias) = buildAlias(wts)
        AdjRow(v, nbrs, wts, prob, alias)
      }
  }

  /** Session-level CSR caches keyed by the FULL canonicalized edge plan
    * under structural equality (NOT its 32-bit semanticHash — a hash
    * collision between two distinct edge plans must not serve the wrong
    * adjacency; and NOT the plan's toString — LocalRelation.toString
    * omits the relation's data, so two in-memory tables with the same
    * schema would collide): the walks all need the same per-vertex
    * adjacency (and the chained kernels the same bucketed form), and
    * rebuilding it per call paid a groupBy + alias build each time
    * (VERDICT r2 hygiene). Entries are persisted and live until
    * [[clearAdjacencyCache]]. Same freshness contract as Spark's own
    * `Dataset.persist`: if the underlying files are overwritten
    * mid-session, call [[clearAdjacencyCache]] (and
    * `spark.catalog.refreshByPath`) to invalidate. */
  private val adjCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan), DataFrame]()
  private val bucketAdjCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long), BucketedCsr]()

  /** [[adjacency]] as a persisted, v-partitioned, within-partition-sorted
    * DataFrame, built once per (session, edge plan). Callers MUST NOT
    * unpersist it — release via [[clearAdjacencyCache]]. */
  def adjacencyCached(edges: DataFrame): DataFrame = {
    val key = (edges.sparkSession, edges.queryExecution.analyzed.canonicalized)
    adjCache.computeIfAbsent(key, _ => {
      // session-lifetime cache: entries pin MEMORY_AND_DISK storage until
      // clearAdjacencyCache — log growth so a long-lived session walking
      // many distinct graphs can see the accumulation (ADVICE r3)
      System.err.println(
        s"[graft:csr] building adjacency cache entry #${adjCache.size + 1} " +
          "(release via GraphOps.clearAdjacencyCache / Walk.releaseCaches)")
      val df = adjacency(edges).toDF()
        .repartition(col("v"))
        .sortWithinPartitions("v")
        .persist(StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize once
      df
    })
  }

  /** A bucketed CSR: (bucket = v / rangeSize, v, adj) rows, persisted,
    * with the row count and the degree sum taken by the one action that
    * materialized it. The chained driver tail reads both to decide
    * whether the whole CSR fits driver memory before it collects a row. */
  final case class BucketedCsr(df: DataFrame, rows: Long, nbrs: Long)

  /** The bucketed CSR builder for every chained walk family, over any
    * per-vertex row flavour.
    *
    * `v` is lifted to a TOP-LEVEL column and partitions are sorted by it:
    * cached-batch min/max stats exist only for top-level attributes, so a
    * vertex-level IN-set filter (the chained driver tail's adjacency
    * fetch) prunes whole batches instead of decompressing the full CSR —
    * struct-field or bucket-level predicates can't get below bucket
    * granularity.
    *
    * r6: hash-partitioned by bucket BEFORE persisting — the chained
    * kernels' cogroups key the CSR side on this very column
    * (relationally, Walk.bucketKeyed), so the cached partitioning
    * satisfies the cogroup's distribution and the CSR is shuffled ONCE at
    * build instead of once per walk call (guide §2.4: "two operations
    * keyed the same way can share one exchange"). The bucket key is the
    * exact Long division the walk kernels use. */
  def bucketed[A <: CsrRow : TypeTag](rows: Dataset[A], rangeSize: Long): BucketedCsr = {
    val spark = rows.sparkSession
    import spark.implicits._
    val df = rows
      .map(a => (a.v / rangeSize, a.v, a))
      .toDF("bucket", "v", "adj")
      .repartition(col("bucket"))
      .sortWithinPartitions("v")
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    // one aggregate materializes the cache and sizes it
    val stats = df.agg(count(lit(1)), coalesce(sum(size(col("adj.nbrs"))), lit(0L))).head()
    BucketedCsr(df, stats.getLong(0), stats.getLong(1))
  }

  /** [[bucketed]] over [[adjacency]], persisted once per (session, edge
    * plan, rangeSize). Callers MUST NOT unpersist it — release via
    * [[clearAdjacencyCache]]. */
  def bucketedCsrCached(edges: DataFrame, rangeSize: Long): BucketedCsr = {
    val spark = edges.sparkSession
    import spark.implicits._
    val canonical = edges.queryExecution.analyzed.canonicalized
    val key = (spark, canonical, rangeSize)
    bucketAdjCache.computeIfAbsent(key, _ => {
      System.err.println(
        s"[graft:csr] building bucketed-adjacency cache entry #${bucketAdjCache.size + 1} " +
          "(release via GraphOps.clearAdjacencyCache / Walk.releaseCaches)")
      // r6: when the SAME edge plan already has a plain session CSR, the
      // bucketed form is a narrow map over that cache — the groupBy and
      // the per-vertex Vose build are paid once per (session, edge plan),
      // not once per cache flavour (guide §1.2: don't recompute what you
      // already hold).
      val source: Dataset[AdjRow] = Option(adjCache.get((spark, canonical))) match {
        case Some(cached) => cached.as[AdjRow]
        case None => adjacency(edges)
      }
      bucketed(source, rangeSize)
    })
  }

  /** The DataFrame of [[bucketedCsrCached]]. */
  def bucketedAdjacencyCached(edges: DataFrame, rangeSize: Long): DataFrame =
    bucketedCsrCached(edges, rangeSize).df

  def clearAdjacencyCache(): Unit = {
    adjCache.values.forEach(df => { df.unpersist(false); () })
    adjCache.clear()
    bucketAdjCache.values.forEach(c => { c.df.unpersist(false); () })
    bucketAdjCache.clear()
  }

  /** Heavy hitters: vertices whose out-degree exceeds `threshold` — the
    * salting targets (north rule; reference's degree-aware partitioning
    * include/graph.hpp:461-503 is the same concern). */
  def heavyHitters(edges: DataFrame, threshold: Long): DataFrame =
    edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("outDeg"))
      .filter(col("outDeg") > threshold)

  /** Salt a skewed aggregation key: spreads each (key) into `salts`
    * sub-keys; callers aggregate on (key, salt) first, then on key —
    * two-level aggregation that bounds any single reducer's load. */
  def saltCol(key: org.apache.spark.sql.Column, salts: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(key, spark_partition_id()), lit(salts))

  /** Degrees via salted two-level aggregation — exact same result as
    * [[degrees]], but a heavy-hitter vertex's rows are first combined
    * under `salts` sub-keys so no single reducer sees the whole hot key
    * (north rule: heavy-hitter salting; the reference's degree-aware
    * partitioning include/graph.hpp:461-503 addresses the same skew). */
  def saltedDegrees(edges: DataFrame, salts: Int = 16): Dataset[VertexDeg] = {
    val spark = edges.sparkSession
    import spark.implicits._
    def oneSide(keyed: DataFrame): DataFrame =
      keyed
        .groupBy(col("v"), saltCol(col("v"), salts).as("salt"))
        .agg(count(lit(1)).as("d"), sum("weight").as("w"))
        .groupBy("v")
        .agg(sum("d").as("d"), sum("w").as("w"))
    val out = oneSide(edges.select(col("src").as("v"), col("weight")))
      .select(col("v"), col("d").as("outDeg"), col("w").as("outW"))
    val in = oneSide(edges.select(col("dst").as("v"), col("weight")))
      .select(col("v"), col("d").as("inDeg"), col("w").as("inW"))
    out.join(in, Seq("v"), "full_outer")
      .select(col("v"),
        coalesce(col("outDeg"), lit(0L)).as("outDeg"),
        coalesce(col("inDeg"), lit(0L)).as("inDeg"),
        coalesce(col("outW"), lit(0.0)).as("outW"),
        coalesce(col("inW"), lit(0.0)).as("inW"))
      .as[VertexDeg]
  }

  /** Degree-weighted contiguous range partitioning (reference P3,
    * include/graph.hpp:461-503): assign each vertex a partition id such
    * that contiguous vid ranges carry ≈ equal Σ(overhead + out-degree).
    * Scalable cumulative sum: range-repartition by vid, per-partition
    * degree sums, broadcast offsets, then bucket by cumulative position.
    * @return (v, part) with parts 0..nParts-1 in vid order */
  def degreeWeightedPartition(
      edges: DataFrame, nParts: Int, vertexOverhead: Double = 5.0): DataFrame = {
    val spark = edges.sparkSession
    val deg = degrees(edges).toDF()
      .select(col("v"), (col("outDeg") + vertexOverhead).as("load"))
      .repartitionByRange(math.max(spark.sparkContext.defaultParallelism, 1), col("v"))
      .sortWithinPartitions(col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    import org.apache.spark.sql.{Encoders, Row}
    val partSums = deg
      .mapPartitions { it =>
        var s = 0.0; var n = 0L
        it.foreach { r => s += r.getDouble(1); n += 1 }
        Iterator.single(Row(org.apache.spark.TaskContext.getPartitionId().toLong, s))
      }(Encoders.row(new org.apache.spark.sql.types.StructType()
        .add("pid", "long").add("s", "double")))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val total = partSums.map(_._2).sum
    val offsets = partSums.map(_._2).scanLeft(0.0)(_ + _)
    val offsetByPid = partSums.map(_._1).zip(offsets).toMap
    val bc = spark.sparkContext.broadcast((offsetByPid, total / nParts))
    val rowEnc = Encoders.row(new org.apache.spark.sql.types.StructType()
      .add("v", "long").add("part", "int"))
    deg.mapPartitions { it =>
      val (offs, chunk) = bc.value
      var cum = offs(org.apache.spark.TaskContext.getPartitionId().toLong)
      it.map { r =>
        val mid = cum + r.getDouble(1) / 2
        cum += r.getDouble(1)
        Row(r.getLong(0), math.min((mid / chunk).toInt, nParts - 1))
      }
    }(rowEnc)
  }
}
