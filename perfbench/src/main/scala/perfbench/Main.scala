package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.apache.spark.storage.StorageLevel
import graft.algo.{Components, LabelProp, PageRank, Triangles}
import graft.derive.Derive
import graft.engine.Iterate
import graft.graph.GraphOps
import graft.synth.Synth
import graft.walk.Walk

/** Benchmark driver for the link-graph engine: one process, one driver
  * thread, ops run one after another (a closed loop).
  *
  * A run generates the workload's corpus from its seed (several times in
  * untraced runs, to time set-up) and derives its edge table; a traced run
  * also builds the walk CSRs there, as the walks it adds read them. It then
  * runs timed passes over every op until `seconds` have elapsed (at least
  * one). Every timed call ends in an aggregate over its whole output (row
  * count plus a content digest), so the output is materialized inside the
  * timed region. The first call of each op is checked outside the timed
  * region; later calls must reproduce its digest. With `trace` every call
  * runs under a span with a job listener and the run reports per-layer
  * numbers only; without it, end-to-end numbers only.
  *
  * Arguments are `--key value` pairs; perfbench/run.py supplies them from
  * perfbench/settings.json. The result is written as one JSON object to
  * the `--result` file.
  */
object Main {

  final case class Conf(args: Map[String, String]) {
    def str(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = str(k).toInt
    def long(k: String): Long = str(k).toLong
    val workload = str("workload")
    val seed = long("seed")
    val seconds = str("seconds").toDouble
    val trace = int("trace") == 1
  }

  val Alpha = 0.85
  val Tol = 1e-6
  val LpaIters = 3
  /** Walker counts and lengths as in graft.Bench: DeepWalk, node2vec and
    * metapath (node2vec's counts). */
  val DeepWalkers = 20000L
  val DeepWalkLen = 10
  val N2vWalkers = 5000L
  val N2vLen = 6
  /** The rejection walk runs one Spark round per trial, so it is kept small
    * for a run to fit its time budget. Its round count is the largest trial
    * count over all walkers; with much fewer walkers it swings even more
    * from seed to seed (50 walkers of length 2 took 4 to 9 rounds). */
  val RejectWalkers = 200L
  val RejectLen = 3
  /** graft.Bench's metapath walk: edge type = endpoint parity; walker w
    * follows scheme w % 2, whose step s allows the types mask(s % length). */
  val Schemes = Seq(Seq(Seq(true, false), Seq(true, true)), Seq(Seq(false, true)))
  def followsScheme(w: Long, s: Long, from: Long, to: Long): Boolean = {
    val scheme = Schemes((w % Schemes.size).toInt)
    scheme((s % scheme.size).toInt)(((from + to) % 2).toInt)
  }

  /** The workload's materialized input. */
  final class Input(val turns: DataFrame, val edges: DataFrame) {
    def release(): Unit = {
      Walk.releaseCaches()
      edges.unpersist(true)
      turns.unpersist(true)
    }
  }

  /** One timed call: `run` returns the op's output, `metric` names its
    * end-to-end time (None: the op runs in traced runs only), `walkers` is
    * the number of walks it starts (0 for non-walk ops), `check` verifies
    * the output against an independent reference. */
  final case class Op(
      name: String,
      metric: Option[String],
      run: () => DataFrame,
      walkers: Long = 0L,
      check: (DataFrame, Sample) => Option[String] = (_, _) => None)

  /** What one timed call produced. */
  final case class Sample(wallS: Double, rows: Long, digest: Long, iters: Int)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Row count and an order-independent content digest, in one job.
    * Doubles are rounded to 1e-12 so summation order cannot flip them. */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name) * 1e12).cast("long")
        case _ => col(f.name)
      }
    }
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(cols: _*), lit(1L << 40))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  def session(c: Conf): SparkSession = SparkSession.builder()
    .master(c.str("master"))
    .appName(s"perfbench-${c.workload}")
    .config("spark.sql.shuffle.partitions", c.str("shuffle-partitions"))
    .config("spark.sql.adaptive.enabled", c.str("aqe"))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", c.str("local-dir"))
    .getOrCreate()

  /** Generate and materialize the corpus. */
  def corpus(spark: SparkSession, c: Conf): DataFrame = {
    val turns = Synth.transcripts(spark, c.long("convs"), seed = c.seed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    turns.count()
    turns
  }

  /** Derive and materialize the corpus' edge table. */
  def input(turns: DataFrame): Input = {
    val edges = Derive.edges(Derive.withDenseVid(turns))
      .persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    new Input(turns, edges)
  }

  /** The session CSR caches every walk engine reads: the plain CSR, the
    * bucketed CSR of the chained engines and the start-vertex index. */
  def buildCsr(in: Input): Unit = {
    val spark = in.edges.sparkSession
    GraphOps.adjacencyCached(in.edges)
    // the chained engines' default bucketing (Walk.firstOrderChained)
    val nBuckets = math.max(spark.sparkContext.defaultParallelism * 2, 4)
    val maxV = in.edges.agg(greatest(max("src"), max("dst"))).head().getLong(0)
    GraphOps.bucketedAdjacencyCached(in.edges, math.max(1L, maxV / nBuckets + 1))
    Walk.equalStarts(in.edges, 1L).count()
  }

  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

  def ops(seed: Long, in: Input, edgeSet: => Checks.EdgeSet): Seq[Op] = {
    val e = in.edges
    // The walks report per-layer numbers only. The chained walks take 1.5 to
    // 3 s, and one stall on this shared 4-core host moved them by up to 50%:
    // over ten seeds their quartile spread reached 0.27. The rejection
    // walk's time follows its round count, the largest trial count over the
    // walkers, which ranged from 8 to 11 across seeds. Both are wider than
    // any end-to-end bound BENCHMARK.json may set (0.25 at most).
    def walkOp(name: String, n: Long, len: Int,
        follows: (Long, Long, Long, Long) => Boolean = (_, _, _, _) => true)(f: => DataFrame) =
      Op(name, None, () => f, n, (fp, _) => Checks.walks(fp, edgeSet, n, len, follows))
    Seq(
      Op("derive.edges", Some("derive_s"), () => Derive.edges(Derive.withDenseVid(in.turns)),
        check = (_, s) => {
          val want = digest(e)
          if ((s.rows, s.digest) == want) None
          else Some(s"derive output ${(s.rows, s.digest)} differs from the set-up edges $want")
        }),
      Op("algo.pagerank", Some("pagerank_s"), () => PageRank.run(e, alpha = Alpha, tol = Tol),
        check = (out, _) => Checks.pagerank(out, edgeSet, Iterate.lastConverged, Alpha, Tol)),
      Op("algo.cc", Some("cc_s"), () => Components.run(e), check = (out, _) => Checks.cc(out, edgeSet)),
      // per-layer only: a 10 s op would push a run past its time budget
      Op("algo.lpa", None, () => LabelProp.run(e, iters = LpaIters),
        check = (out, _) => Checks.lpa(out, edgeSet, LpaIters)),
      // per-layer only, as the walks below: at 1.5 to 2 s it spread by 0.34
      // over ten seeds when the host slowed for part of them
      Op("algo.triangles", None, () => Triangles.count(e),
        check = (out, _) => Checks.triangles(out, edgeSet)),
      walkOp("walk.deepwalk", DeepWalkers, DeepWalkLen) {
        Walk.firstOrder(e, Walk.equalStarts(e, DeepWalkers), maxSteps = DeepWalkLen, seed = seed)
      },
      walkOp("walk.deepwalk_chained", DeepWalkers, DeepWalkLen) {
        Walk.firstOrderChained(e, Walk.equalStarts(e, DeepWalkers), maxSteps = DeepWalkLen,
          seed = seed)
      },
      walkOp("walk.node2vec", N2vWalkers, N2vLen) {
        Walk.node2vec(e, Walk.equalStarts(e, N2vWalkers), maxSteps = N2vLen, p = 2.0, q = 0.5,
          seed = seed)
      },
      walkOp("walk.node2vec_chained", N2vWalkers, N2vLen) {
        Walk.node2vecChained(e, Walk.equalStarts(e, N2vWalkers), maxSteps = N2vLen, p = 2.0,
          q = 0.5, seed = seed)
      },
      walkOp("walk.metapath_chained", N2vWalkers, N2vLen, followsScheme) {
        val typed = e.withColumn("etype", pmod(col("src") + col("dst"), lit(2)).cast("int"))
        Walk.metapathChained(typed, Walk.equalStarts(e, N2vWalkers), Schemes, maxSteps = N2vLen,
          seed = seed)
      },
      walkOp("walk.node2vec_reject", RejectWalkers, RejectLen) {
        Walk.node2vecReject(e, Walk.equalStarts(e, RejectWalkers), maxSteps = RejectLen,
          p = 0.5, q = 2.0, seed = seed)
      })
  }

  /** Peak resident set of this process, in MB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val c = Conf(argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
    val spark = session(c)
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start counts towards session start: run.py passes its launch time
    val sessionS = (System.currentTimeMillis() - c.long("launch-ms")) / 1e3

    // set-up: the corpus several times over, keeping the last; then, once,
    // its edge table. Repeating the full set-up would not fit a run's time
    // budget, so only the corpus is repeated.
    // setup_s = session start + the corpus' median + edge table: one sample.
    // Traced runs report no setup_s and generate the corpus once.
    val corpusTimes = mutable.ArrayBuffer[Double]()
    var turns: DataFrame = null
    for (_ <- 1 to (if (c.trace) 1 else c.int("setup-reps"))) {
      if (turns != null) turns.unpersist(true)
      val s0 = System.nanoTime()
      turns = corpus(spark, c)
      corpusTimes += (System.nanoTime() - s0) / 1e9
    }
    val e0 = System.nanoTime()
    val in = input(turns)
    val inputS = (System.nanoTime() - e0) / 1e9
    log(f"session $sessionS%.2fs, corpus reps " + corpusTimes.map(t => f"$t%.2f").mkString(" ") +
      f", edge table $inputS%.2fs")
    // the walks read the CSRs, built before them as KnightKing loads its
    // graph before it walks; untraced runs do not walk. The build is traced
    // as the graph.csr op.
    val tracer = new Tracer(spark.sparkContext)
    val csr = if (!c.trace) None else {
      val before = cachedMb(spark)
      val (_, sp) = tracer.span("graph.csr")(buildCsr(in))
      Some((OpTrace.of(sp, tracer.children(sp)), cachedMb(spark) - before))
    }

    val nEdges = in.edges.count()
    lazy val edgeSet = Checks.EdgeSet(in.edges)
    val opList = ops(c.seed, in, edgeSet).filter(op => c.trace || op.metric.isDefined)
    var attempted = 0
    val failedOps = mutable.LinkedHashMap[String, Int]()
    val expected = mutable.Map[String, (Long, Long)]()

    def failed(op: Op, why: String): Unit = {
      failedOps(op.name) = failedOps.getOrElse(op.name, 0) + 1
      log(s"FAIL ${op.name}: $why")
    }

    /** One call of `op`, materialized by its digest, optionally traced.
      * The first call's output is checked; later calls must reproduce its
      * digest. A throw or a failed check counts as a failed op; only a
      * throw loses the sample. */
    def call(op: Op, traced: Boolean): Option[(Sample, Option[Span])] = {
      attempted += 1
      // collect the set-up's, earlier ops' and checks' garbage first, so no
      // op pays for a collection it did not cause
      System.gc()
      try {
        def timed(): (Sample, DataFrame) = {
          val s0 = System.nanoTime()
          val out = op.run()
          val (rows, dig) = digest(out)
          (Sample((System.nanoTime() - s0) / 1e9, rows, dig, Iterate.lastIterations), out)
        }
        val ((s, out), span) =
          if (traced) { val (r, sp) = tracer.span(op.name)(timed()); (r, Some(sp)) }
          else (timed(), None)
        val verdict = expected.get(op.name) match {
          case None =>
            expected(op.name) = (s.rows, s.digest)
            val c0 = System.nanoTime()
            val v = op.check(out, s)
            log(f"${op.name}: ${s.wallS}%.2fs, check ${(System.nanoTime() - c0) / 1e9}%.2fs, " +
              s"rows=${s.rows} digest=${s.digest}")
            v
          case Some(d) if d != (s.rows, s.digest) =>
            Some(s"output (rows, digest) ${(s.rows, s.digest)} differs from the checked $d")
          case _ => None
        }
        verdict.foreach(failed(op, _))
        Some((s, span))
      } catch { case t: Throwable => failed(op, s"threw $t"); None }
    }

    // Every op once per pass, until `seconds` have elapsed. The first call
    // of each op is checked; later ones must reproduce its digest.
    val samples = mutable.Map[String, mutable.ArrayBuffer[(Sample, Option[Span])]]()
    val m0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - m0) / 1e9 < c.seconds) {
      opList.foreach { op =>
        call(op, c.trace).foreach(samples.getOrElseUpdate(op.name, mutable.ArrayBuffer()) += _)
      }
      pass += 1
    }
    log(f"$pass passes in ${(System.nanoTime() - m0) / 1e9}%.1fs")

    val metrics = mutable.LinkedHashMap[String, (Double, String, Int)]()
    def put(name: String, xs: Seq[Double], unit: String): Unit =
      metrics(name) = (median(xs), unit, xs.size)

    if (!c.trace) {
      put("setup_s", Seq(sessionS + median(corpusTimes.toSeq) + inputS), "s")
      opList.foreach { op =>
        val xs = samples.getOrElse(op.name, mutable.ArrayBuffer()).map(_._1).toSeq
        put(op.metric.get, xs.map(_.wallS), "s")
        if (op.name == "algo.pagerank")
          put("pagerank_edges_per_s", xs.map(s => nEdges.toDouble * s.iters / s.wallS), "edges/s")
      }
      put("peak_rss_mb", Seq(peakRssMb()), "MB")
    } else {
      def layer(name: String, ts: Seq[OpTrace]): Unit = {
        put(s"$name.wall_s", ts.map(_.wallS), "s")
        put(s"$name.jobs", ts.map(_.jobs.toDouble), "count")
        put(s"$name.job_s", ts.map(_.jobS), "s")
        put(s"$name.out_of_job_s", ts.map(_.outOfJobS), "s")
        put(s"$name.task_cpu_s", ts.map(_.cpuS), "s")
        put(s"$name.gc_s", ts.map(_.gcS), "s")
        put(s"$name.shuffle_mb", ts.map(_.shuffleMb), "MB")
        // out_of_job_s = wall_s - job_s; it only goes negative when a job
        // ran outside its op's span
        ts.filter(t => t.outOfJobS < -0.05 * t.wallS)
          .foreach(t => log(s"WARN $name: jobs outlast the op's span: $t"))
      }
      opList.foreach { op =>
        val xs = samples.getOrElse(op.name, mutable.ArrayBuffer()).toSeq
        layer(op.name, xs.map { case (_, sp) => OpTrace.of(sp.get, tracer.children(sp.get)) })
        val ss = xs.map(_._1)
        if (op.name == "derive.edges") put("derive.edges.rows", ss.map(_.rows.toDouble), "count")
        if (op.name == "algo.pagerank" || op.name == "algo.cc")
          put(s"${op.name}.iters", ss.map(_.iters.toDouble), "count")
        if (op.walkers > 0)
          put(s"${op.name}.steps", ss.map(s => (s.rows - op.walkers).toDouble), "count")
      }
      csr.foreach { case (t, mb) =>
        layer("graph.csr", Seq(t))
        put("graph.csr.cached_mb", Seq(mb), "MB")
      }
      put("trace.overhead_frac", Seq(tracer.overheadFrac), "ratio")
      writeSpans(tracer.spans.toSeq, c.str("spans"))
    }

    val nFailed = failedOps.values.sum
    log(f"ops attempted $attempted, failed $nFailed (ops_failed_frac ${nFailed.toDouble / attempted}%.4f)" +
      (if (failedOps.isEmpty) "" else failedOps.keys.mkString(": ", ", ", "")))
    in.release()
    spark.stop()

    val table = metrics.map { case (k, (v, u, n)) => f"$k%-36s $v%20.6f $u%-8s n=$n" }
    // an op that threw on every call has no sample: its value is null
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val json = metrics.map { case (k, (v, u, _)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": ${nFailed == 0}, "attempted": $attempted, "failed": $nFailed, "metrics": {""",
        ", ", "}}")
    write(c.str("result"), (table.toSeq :+ json).mkString("", "\n", "\n"))
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def write(path: String, text: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), text.getBytes("UTF-8"))

  def writeSpans(spans: Seq[Span], path: String): Unit =
    write(path, spans.map { s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "start_ns": ${s.start}, """ +
        s""""end_ns": ${s.end}, "jobs": ${s.jobs}, "cpu_ns": ${s.cpuNs}, "gc_ms": ${s.gcMs}, """ +
        s""""shuffle_bytes": ${s.shuffleBytes}}"""
    }.mkString("", "\n", "\n"))
}
