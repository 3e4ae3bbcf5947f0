package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{Conf, Iterate}

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
  *  - about 3 Spark jobs per iteration (traced perfbench battery-small,
  *    seed 11, 4 cores: 46 jobs for 13 iterations; 108 with adaptive
  *    execution on). Adaptive execution is off for the setup and the
  *    loop: AQE submits every shuffle stage as its own job, re-plans
  *    between them and coalesces the rank state into one task. Without
  *    it, each truncation write is one job holding all of its stages, on
  *    `spark.sql.shuffle.partitions` tasks (the partitioning `trans`
  *    already has), plus one job to broadcast the read-back ranks;
  *  - the dangling-mass scalar and max|Δ| ride the truncation write as
  *    observed metrics, so neither the convergence check nor the next
  *    step re-scans the checkpoint;
  *  - contributions aggregate map-side (partial hash agg) before the
  *    by-dst shuffle.
  *
  * The output is deterministic for a fixed `spark.sql.shuffle.partitions`
  * (AlgoSpec checks it bitwise): the observed dangling sum, which merges
  * per-task partials in completion order, is summed exactly.
  */
object PageRank {

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
    // the caller's final select runs outside these scopes: a plain scan of
    // the last truncation
    Conf.withIterTuning(spark) {
    Conf.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
    Conf.withJobDescription(spark, s"$runName:setup") {

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
    // them so. Both run in one job group: the first failure (taken in
    // completion order) cancels the group, including a job the sibling has
    // yet to submit, so no setup job outlives a throwing call.
    val n = {
      val sc = spark.sparkContext
      val group = s"$runName:setup:${java.util.UUID.randomUUID()}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val done = new java.util.concurrent.ExecutorCompletionService[Long](pool)
      try {
        val counts = Seq(trans, vflag).map(df => done.submit { () =>
          sc.setJobGroup(group, s"$runName:setup", interruptOnCancel = true)
          df.count()
        })
        counts.foreach(_ => done.take().get())
        counts(1).get().toDouble
      } catch {
        case t: Throwable =>
          sc.cancelJobGroupAndFutureJobs(group)
          pool.shutdownNow()
          throw t
      } finally pool.shutdown()
    }
    outw.unpersist(false)

    // The dangling-rank sum D, summed exactly in decimal(38,30): observe()
    // merges per-task partials in task-completion order, so a double sum
    // would change from run to run once the final stage has several tasks,
    // and every rank with it. Ranks are >= (1-α)/N, so 30 decimal places
    // keep 20+ significant digits up to N = 10^9; the sum (<= 1) cannot
    // overflow.
    val dmassAgg = coalesce(
      sum(when(!col("hasOut"), col("rank")).cast("decimal(38,30)")).cast("double"),
      lit(0.0)).as("dmass")

    // r6: the checkpointed state is (v, hasOut, rank) only — the delta
    // exists solely as the observed max metric, so it no longer rides
    // every per-iteration parquet row
    val obs0 = new org.apache.spark.sql.Observation(s"$runName-m0")
    val r0 = vflag.select(col("v"), col("hasOut"), lit(1.0 / n).as("rank"))
      .observe(obs0, dmassAgg)

    // every truncation write carries TWO observed metrics: the max|Δ|
    // convergence check AND the state's dangling-rank sum, so iteration
    // k+1 gets its dangling mass off the driver instead of re-aggregating
    // the just-written checkpoint through a broadcast subquery. The
    // scalar re-enters the plan as a one-row LOCAL relation (data, not a
    // code literal — a lit(dmass) variant regressed: a fresh double
    // literal per iteration defeats the generated-code cache and the
    // recompile cost exceeded the saved job), and broadcasting a
    // LocalTableScan launches no job at all — one Spark job and one
    // checkpoint scan fewer per iteration.
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
          ranks.agg(dmassAgg).head().getDouble(0)
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
    trans.unpersist(false)
    vflag.unpersist(false)
    out
    }
    }
    }.select(col("v"), col("rank"))
  }
}
