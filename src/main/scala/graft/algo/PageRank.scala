package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.Iterate

/** Weighted PageRank by power iteration over the edge table — pure
  * DataFrame joins/aggregations (north rule: "PageRank ... entirely via
  * DataFrame/Catalyst joins and aggregations").
  *
  * Semantics: standard damped PageRank with out-weight-normalized
  * transition probabilities and dangling-mass redistribution:
  *   r'(v) = (1-α)/N + α·( Σ_{(u,v,w)} r(u)·w/outW(u)  +  D/N ),
  *   D = Σ_{u dangling} r(u).
  * Converges to max|Δ| < tol (default 1e-6, the north-rule tolerance).
  *
  * Scale/efficiency notes:
  *  - the normalized edge table is computed once, repartitioned by `src`
  *    and persisted — iterations shuffle only the (small) rank vector to
  *    the edge partitioning and never re-shuffle edges;
  *  - ONE Spark job per iteration: the dangling-mass scalar is a
  *    broadcast 1-row cross join *inside* the step plan, and the
  *    convergence delta is carried as a state column, so the check is a
  *    cheap aggregate over the just-written checkpoint, not a recompute;
  *  - contributions aggregate map-side (partial hash agg) before the
  *    by-dst shuffle.
  */
object PageRank {

  /** Explain-only replica of one power-iteration step (r06 plan audit):
    * the plan shape of [[run]]'s per-iteration job against an
    * unpersisted uniform rank vector. Never executed by the engine. */
  def stepPlanForExplain(edges: DataFrame): DataFrame = {
    val alpha = 0.85
    val verts = graft.graph.GraphOps.vertices(edges)
    val outw = edges.groupBy(col("src")).agg(sum("weight").as("ow"))
    val trans = edges.join(outw, "src")
      .select(col("src"), col("dst"), (col("weight") / col("ow")).as("p"))
    val vflag = verts
      .join(outw.select(col("src").as("v"), lit(true).as("hasOut")), Seq("v"), "left")
      .select(col("v"), coalesce(col("hasOut"), lit(false)).as("hasOut"))
    val ranks = vflag.select(col("v"), col("hasOut"), lit(1e-4).as("rank"))
    // the shipped loop injects the PREVIOUS iteration's observed dangling
    // sum as a one-row local relation (no job, no subquery)
    val dangling = edges.sparkSession.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(0.0)),
      new org.apache.spark.sql.types.StructType()
        .add("dmass", "double", nullable = false))
    val contrib = trans
      .join(ranks.select(col("v").as("src"), col("rank")), Seq("src"))
      .groupBy(col("dst").as("v"))
      .agg(sum(col("p") * col("rank")).as("c"))
    ranks.select(col("v"), col("hasOut"), col("rank").as("prevRank"))
      .join(contrib, Seq("v"), "left")
      .crossJoin(broadcast(dangling))
      .select(col("v"), col("hasOut"),
        (lit((1.0 - alpha)) + lit(alpha) * (coalesce(col("c"), lit(0.0)) + col("dmass"))).as("rank"),
        abs(col("rank") - col("prevRank")).as("delta"))
      .drop("delta")
  }

  /** @param fixedIter run exactly this many iterations (no convergence
    *                  checks — used by the DuckDB-mirrored oracle query)
    * @return (v LONG, rank DOUBLE) */
  def run(
      edges: DataFrame,
      alpha: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 100,
      fixedIter: Option[Int] = None,
      store: Option[Iterate.CheckpointStore] = None,
      runName: String = "pagerank",
      memTruncate: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    graft.engine.Conf.withIterTuning(spark) {

    // persisted: BOTH setup materializations (trans and vflag) consume
    // outw — without the cache each of the two overlapped jobs aggregates
    // the edge table independently; released as soon as n is known
    val outw = edges.groupBy(col("src")).agg(sum("weight").as("ow"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // normalized transition edges, co-partitioned by src once for all iters
    val trans = edges.join(outw, "src")
      .select(col("src"), col("dst"), (col("weight") / col("ow")).as("p"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // vertices flagged dangling (no out-edges) so the dangling-mass term
    // is a filter+sum, not an anti-join. r6: built directly (no separate
    // persisted verts table — one setup action fewer); its count IS |V|.
    val vflag = graft.graph.GraphOps.vertices(edges)
      .join(outw.select(col("src").as("v"), lit(true).as("hasOut")), Seq("v"), "left")
      .select(col("v"), coalesce(col("hasOut"), lit(false)).as("hasOut"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // the two cache materializations are independent — overlap them so
    // the second back-fills executors freed by the first's stragglers
    // (guide §2.6); actions are only sequential when the driver makes
    // them so
    val n = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val ft = pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = trans.count()
        })
        val fv = pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = vflag.count()
        })
        ft.get()
        fv.get().toDouble
      } finally pool.shutdown()
    }
    outw.unpersist(false)

    // r6: the checkpointed state is (v, hasOut, rank) only — the delta
    // exists solely as the observed max metric, so it no longer rides
    // every per-iteration parquet row
    val obs0 = new org.apache.spark.sql.Observation(s"$runName-m0")
    val r0 = vflag.select(col("v"), col("hasOut"), lit(1.0 / n).as("rank"))
      .observe(obs0,
        coalesce(sum(when(!col("hasOut"), col("rank"))), lit(0.0)).as("dmass"))

    // every truncation write carries TWO observed metrics: the max|Δ|
    // convergence check AND the state's dangling-rank sum, so iteration
    // k+1 gets its dangling mass off the driver instead of re-aggregating
    // the just-written checkpoint through a broadcast subquery. The
    // scalar re-enters the plan as a one-row LOCAL relation (data, not a
    // code literal — a lit(dmass) variant regressed: a fresh double
    // literal per iteration defeats the generated-code cache and the
    // recompile cost exceeded the saved job), and broadcasting a
    // LocalTableScan launches no job at all — one Spark job and one
    // checkpoint scan fewer per iteration. The summed double is the SAME
    // aggregate the subquery computed, equal up to floating-point
    // summation order through the metric row.
    val dmassAgg =
      coalesce(sum(when(!col("hasOut"), col("rank"))), lit(0.0)).as("dmass")
    val dmassSchema = new org.apache.spark.sql.types.StructType()
      .add("dmass", "double", nullable = false)
    // a durable run that RESUMES never executes r0's truncation, so obs0
    // would block forever — detect resume the same way Iterate does and
    // let the first step fall back to one re-aggregation
    val resumed = store.exists(_.latest(runName).isDefined)
    var curObs: Option[org.apache.spark.sql.Observation] =
      if (resumed) None else Some(obs0)
    def step(ranks: DataFrame, iter: Int): DataFrame = {
      val dmassVal: Double = curObs match {
        case Some(o) => o.get("dmass").asInstanceOf[Double]
        case None => // resumed durable run: r0's observation never executed
          ranks.filter(!col("hasOut"))
            .agg(coalesce(sum("rank"), lit(0.0))).head().getDouble(0)
      }
      val dangling = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(dmassVal)), dmassSchema)
      val contrib = trans
        .join(ranks.select(col("v").as("src"), col("rank")), Seq("src"))
        .groupBy(col("dst").as("v"))
        .agg(sum(col("p") * col("rank")).as("c"))
      val obs = new org.apache.spark.sql.Observation(s"$runName-delta-$iter")
      curObs = Some(obs)
      // r6: the rank state is its own vertex spine (every iteration emits
      // exactly one row per vflag row, hasOut riding along), so the old
      // per-iteration vflag⋈contrib⋈ranks double join collapses to ONE
      // left join — one exchange + one persisted-table scan fewer per
      // iteration, identical arithmetic (guide §2.4: remove shuffles
      // outright).
      ranks
        .select(col("v"), col("hasOut"), col("rank").as("prevRank"))
        .join(contrib, Seq("v"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("v"), col("hasOut"),
          (lit((1.0 - alpha) / n) +
            lit(alpha) * (coalesce(col("c"), lit(0.0)) + col("dmass") / n)).as("rank"),
          col("prevRank"))
        .observe(obs,
          max(abs(col("rank") - col("prevRank"))).as("maxDelta"),
          dmassAgg)
        .drop("prevRank")
    }

    def converged(prev: DataFrame, next: DataFrame, iter: Int): Boolean =
      curObs.get.get("maxDelta").asInstanceOf[Double] < tol

    val out = Iterate.run(runName, r0, step, converged, maxIter, fixedIter, store,
        memTruncate)
      .select(col("v"), col("rank"))
    trans.unpersist(false)
    vflag.unpersist(false)
    out
    }
  }
}
