package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-side iteration harness for the engine's iterative algorithms
  * (PageRank, CC, LPA, walks) — the Spark analogue of the reference's
  * `while (active_walker_num != 0)` super-step loop
  * (include/walk.hpp:926; SURVEY.md §2.5 X3).
  *
  * Responsibilities:
  *  - plan truncation each iteration (mandatory: iterative self-joins
  *    otherwise blow up Catalyst analysis time — SURVEY.md §7.4.1);
  *  - optional durable checkpointing to Parquet with per-(iteration,
  *    partition) lineage + skew metrics (north rule);
  *  - resume: pick up from the last complete checkpointed iteration.
  */
object Iterate {

  /** One checkpoint root per named run: `<dir>/<name>/iter=k/` holds the
    * state Parquet, `<dir>/<name>/_lineage/` the metrics rows. An
    * `_SUCCESS` file (written by Spark's Parquet committer) marks an
    * iteration complete, making resume safe under mid-write kills. */
  final class CheckpointStore(val root: String, spark: SparkSession) {
    private val fsConf = spark.sparkContext.hadoopConfiguration
    private def fs(p: org.apache.hadoop.fs.Path) = p.getFileSystem(fsConf)

    def iterPath(name: String, iter: Int) = s"$root/$name/iter=$iter"

    /** Truncation-only save: durable write + read-back, no lineage rows
      * (used for anonymous in-run truncation where metrics aren't kept).
      * Deletes the iteration before last to bound disk usage. Both saves
      * read back with the written frame's schema, so the read-back infers
      * no schema (one Spark job fewer per truncation). */
    def saveNoLineage(name: String, iter: Int, df: DataFrame): DataFrame = {
      val p = iterPath(name, iter)
      df.write.mode("overwrite").parquet(p)
      if (iter >= 2) {
        val old = new org.apache.hadoop.fs.Path(iterPath(name, iter - 2))
        try fs(old).delete(old, true) catch { case _: Throwable => () }
      }
      spark.read.schema(df.schema).parquet(p)
    }

    def save(name: String, iter: Int, df: DataFrame): DataFrame = {
      val p = iterPath(name, iter)
      val t0 = System.nanoTime()
      df.write.mode("overwrite").parquet(p)
      val out = spark.read.schema(df.schema).parquet(p)
      val wallMs = (System.nanoTime() - t0) / 1000000
      // per-partition lineage row: (runId, iter, partId, rows, wallMs)
      val lineage = out
        .groupBy(spark_partition_id().as("partId"))
        .agg(count(lit(1)).as("rows"))
        .select(lit(name).as("runId"), lit(iter).as("iter"),
          col("partId"), col("rows"), lit(wallMs).as("wallMs"))
      lineage.write.mode("append").parquet(s"$root/$name/_lineage")
      out
    }

    /** Highest iteration with a complete (_SUCCESS-marked) checkpoint. */
    def latest(name: String): Option[(Int, DataFrame)] = {
      val base = new org.apache.hadoop.fs.Path(s"$root/$name")
      val f = fs(base)
      if (!f.exists(base)) return None
      val iters = f.listStatus(base).toSeq
        .map(_.getPath.getName)
        .collect { case s if s.startsWith("iter=") => s.stripPrefix("iter=").toInt }
        .filter(i => f.exists(new org.apache.hadoop.fs.Path(s"${iterPath(name, i)}/_SUCCESS")))
      if (iters.isEmpty) None
      else {
        val i = iters.max
        Some((i, spark.read.parquet(iterPath(name, i))))
      }
    }

    def lineage(name: String): DataFrame =
      spark.read.parquet(s"$root/$name/_lineage")

    /** Max/avg partition-row skew per iteration — the north rule's skew
      * metric, derivable from the lineage rows. */
    def skew(name: String): DataFrame =
      lineage(name).groupBy("iter")
        .agg((max("rows") / avg("rows")).as("skewMaxOverAvg"))
  }

  /** Temp checkpoint dirs of non-durable runs, swept by ONE JVM shutdown
    * hook (a long-lived session used to register a fresh hook — plus the
    * surviving last-two-iterations dir pair — per run() call). */
  private val tempDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val sweeperInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempDirs.forEach { dir =>
        try {
          java.nio.file.Files.walk(dir)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        } catch { case _: Throwable => () }
      }))
  private def registerTempDir(dir: java.nio.file.Path): Unit = {
    sweeperInstalled
    tempDirs.add(dir)
    ()
  }

  /** Iteration count of the most recent [[run]] on this driver (bench
    * metric plumbing; driver-side single-threaded use only). */
  @volatile var lastIterations: Int = 0

  /** Whether the most recent [[run]] stopped because `converged` fired
    * (or had a `fixedIter` pin), as opposed to exhausting `maxIter`.
    * Callers that need convergence MUST check this (or use their own
    * strict flag) — exhausting the cap is never silent: [[run]] also
    * prints a MAXITER warning. */
  @volatile var lastConverged: Boolean = false

  /** Run `step` until `converged` or `maxIter`, truncating lineage every
    * iteration. With a [[CheckpointStore]], each iteration is durable and
    * the run resumes from the last complete iteration; without one, a
    * self-cleaning temp-dir store truncates without lineage or resume.
    * (A/B r2: the disk-free persist+count+localCheckpoint(SER) sequence
    * benchmarked no faster at sf0.1 — pagerank_conv 14.3s vs 13.3s — so
    * Parquet read-back stays, keeping its GC-pressure advantage at scale.)
    *
    * `converged(prev, next, iter)` may run Spark actions (e.g. a max-delta
    * aggregate); it is skipped when `fixedIter` pins the iteration count.
    *
    * Every job of iteration k (its step, truncation and convergence check)
    * runs with the job description `<name>:iter=<k>`; the initial state's
    * truncation is `iter=0`.
    */
  def run(
      name: String,
      state0: DataFrame,
      step: (DataFrame, Int) => DataFrame,
      converged: (DataFrame, DataFrame, Int) => Boolean = (_, _, _) => false,
      maxIter: Int = 100,
      fixedIter: Option[Int] = None,
      store: Option[CheckpointStore] = None,
      memTruncate: Boolean = false): DataFrame = {
    val spark = state0.sparkSession

    // Plan truncation MUST also reset plan statistics, not just lineage:
    // localCheckpoint's LogicalRDD carries the *estimated* stats of the
    // plan it replaced, so a self-joining step squares sizeInBytes every
    // iteration until Catalyst drowns in BigInteger arithmetic (measured:
    // minutes per iteration by iter ~25); persist()+count() alone resets
    // stats (InMemoryRelation = real bytes) but leaves the exponentially
    // growing raw logical tree, which OOMs treeString rendering by ~5.
    //
    // Both modes therefore truncate via Parquet write + read-back: the
    // read-back plan is a fresh scan with real file-size stats and zero
    // carried lineage, and the state's row objects live in the OS page
    // cache instead of pinned executor-heap RDD storage — per-step
    // localCheckpoint storage caused full-GC storms at 30M+ edges. Cost:
    // a disk round-trip per iteration (10-30 s spikes were observed only
    // for multi-GB states on this VM's ext4; bench-scale states commit in
    // <100 ms). Durable mode writes to the caller's CheckpointStore (with
    // lineage rows, resumable); non-durable mode uses a self-cleaning
    // temp dir that keeps only the last two iterations.
    lazy val tmpStore = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-iter-").toAbsolutePath
      // the last two snapshots outlive run() (callers consume the returned
      // DataFrame lazily); register the dir with the single process-wide
      // sweeper — one hook per JVM, not one per run()
      registerTempDir(dir)
      new CheckpointStore(dir.toString, spark)
    }
    // memTruncate: serialized in-memory truncation — persist+count gives
    // real InMemoryRelation stats, localCheckpoint(SER) then cuts the tree
    // inheriting them, and the cache is dropped. No disk (and no serial
    // parquet-commit segment) in the loop; the state lives as serialized
    // spillable blocks. Off by default: at bench scale it ties with the
    // temp-parquet path, and disk-backed states resist executor-memory
    // pressure better at 100 TB.
    def truncate(df: DataFrame, iter: Int): DataFrame = store match {
      case Some(s) => s.save(name, iter, df)
      case None if memTruncate =>
        val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
        val cached = df.persist(ser)
        cached.count()
        val cut = cached.localCheckpoint(true, ser)
        cached.unpersist(false)
        cut
      case None => tmpStore.saveNoLineage(name, iter, df)
    }

    var (iter0, state) = store.flatMap(_.latest(name)) match {
      case Some((i, df)) => (i, df)
      case None => (0, Conf.withJobDescription(spark, s"$name:iter=0")(truncate(state0, 0)))
    }
    val last = fixedIter.getOrElse(maxIter)
    var iter = iter0
    var done = false
    while (iter < last && !done) {
      val t0 = System.nanoTime()
      Conf.withJobDescription(spark, s"$name:iter=${iter + 1}") {
        val next = truncate(step(state, iter), iter + 1)
        done = fixedIter.isEmpty && converged(state, next, iter + 1)
        state = next
      }
      iter += 1
      // reference X4 per-step progress log (include/walk.hpp:928-933)
      System.err.println(f"[graft:$name] iter=$iter wall=${(System.nanoTime() - t0) / 1e9}%.2fs done=$done")
    }
    lastIterations = iter
    lastConverged = done || fixedIter.isDefined || iter < last
    if (!lastConverged)
      System.err.println(
        s"[graft:$name] MAXITER: stopped at iter=$iter without convergence — result is NOT a fixpoint")
    state
  }
}
