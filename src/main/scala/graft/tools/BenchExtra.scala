package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.algo.{Components, LabelProp, PageRank, Triangles}
import graft.text.TextOps
import graft.walk.Walk

/** Round-6 optimization harness (guide §1.4): noop-sink isolation timings
  * and `explain("formatted")` dumps for every bench query, WITHOUT touching
  * the frozen Bench/Verify mains. Usage:
  *
  *   runMain graft.tools.BenchExtra plans <outDir>   — dump before/after plans
  *   runMain graft.tools.BenchExtra time <phase...>  — noop-isolated timings
  *
  * Reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench.
  */
object BenchExtra {

  def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[benchextra] $label%-36s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val bytes = java.nio.file.Files.walk(java.nio.file.Paths.get(sfDir))
      .filter(p => p.toString.endsWith(".parquet"))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    val parts = math.max(8, math.min(cpus.toInt, (bytes / (4 << 20)).toInt))
    val spark = graft.Bench.session(cpus, parts)
    spark.sparkContext.setLogLevel("WARN")
    args.headOption match {
      case Some("plans") => plans(spark, sfDir, args.lift(1).getOrElse("plans/r06"))
      case Some("time") => timings(spark, sfDir, args.drop(1).toSet)
      case Some("prjobs") => prJobs(spark, sfDir)
      case Some("cogroup") => cogroupPlan(spark, sfDir)
      case other => sys.error(s"unknown mode $other (plans|time|prjobs)")
    }
    spark.stop()
  }

  /** The per-iteration / per-step plans are what matter for the iterative
    * algorithms (the returned DataFrame of a loop is just the final
    * checkpoint scan), so this dumps representative single-step plans for
    * those, and the full plan for the one-shot queries. */
  def plans(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    def dump(name: String, df: DataFrame): Unit = {
      val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.writeString(p, df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      println(s"[benchextra] wrote $p")
    }

    val edges = graft.SparkEntry.eventEdges(spark, sfDir)
    dump("derive_edges", edges)

    val e = edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count()

    dump("cc_round", Components.roundPlanForExplain(e))
    dump("lpa_step", LabelProp.stepPlanForExplain(e))
    dump("triangles", Triangles.planForExplain(e))
    dump("deepwalk_step", Walk.firstOrderStepPlanForExplain(e))
    dump("node2vec_step", Walk.node2vecStepPlanForExplain(e))

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    dump("minhash_lsh", TextOps.minhashLshPairs(docs))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    dump("ann_topk", graft.ann.Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5))
    e.unpersist(false)
  }

  /** Prints the physical plan of one chained cogroup round — the check
    * that the CSR side carries NO exchange (bucket-partitioned cache +
    * relational grouping, r6). */
  def cogroupPlan(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    val edges = graft.SparkEntry.eventEdges(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count()
    val starts = Walk.equalStarts(edges, 1000L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null && (m.shuffleWriteMetrics.bytesWritten > 0))
          println(f"[cogroup] stage=${e.stageInfo.stageId}%4d " +
            f"shufWrite=${m.shuffleWriteMetrics.bytesWritten}%10d B " +
            f"recs=${m.shuffleWriteMetrics.recordsWritten}%8d  ${e.stageInfo.name.take(60)}")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val out = Walk.firstOrderChained(edges, starts, maxSteps = 10,
      tailThreshold = 0) // force cogroup rounds (no driver tail)
    println("[cogroup] chained rows=" + out.count())
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(listener)
    edges.unpersist(false)
  }

  /** Job-level trace of one warm pagerank_conv run: every Spark job's
    * wall and stage count, so the per-iteration fixed costs (broadcast
    * builds, AQE stage materializations, the truncation write) are
    * attributable individually. */
  def prJobs(spark: SparkSession, sfDir: String): Unit = {
    val edges = graft.SparkEntry.eventEdges(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count()
    PageRank.run(edges, tol = 1e-6, maxIter = 60).count() // warm-up
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(e.properties.getProperty("spark.job.description")).getOrElse("")
        starts.put(e.jobId, (System.nanoTime(), e.stageInfos.size, desc))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(starts.get(e.jobId)).foreach { case (t0, nStages, desc) =>
          jobs.add(f"job=${e.jobId}%4d wall=${(System.nanoTime() - t0) / 1e6}%7.1f ms stages=$nStages%2d $desc")
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    time("pagerank_conv traced") { PageRank.run(edges, tol = 1e-6, maxIter = 60).count() }
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500)
    jobs.forEach(s => println(s"[prjobs] $s"))
    edges.unpersist(false)
  }

  def timings(spark: SparkSession, sfDir: String, phases: Set[String]): Unit = {
    def want(s: String) = phases.isEmpty || phases.contains(s)
    val sc = spark.sparkContext

    val edges = time("derive_edges (noop)") {
      val e = graft.SparkEntry.eventEdges(spark, sfDir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.count()
      e
    }

    if (want("minhash")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      sc.setJobDescription("mh: signatures only")
      time("minhash signatures (noop)") { noop(TextOps.minhashSignatures(docs)) }
      sc.setJobDescription("mh: full pairs")
      time("minhash_lsh pairs #1") { TextOps.minhashLshPairs(docs).count() }
      time("minhash_lsh pairs #2") { TextOps.minhashLshPairs(docs).count() }
      sc.setJobDescription(null)
    }

    if (want("pagerank")) {
      time("pagerank_conv #1") { PageRank.run(edges, tol = 1e-6, maxIter = 60).count() }
      time("pagerank_conv #2") { PageRank.run(edges, tol = 1e-6, maxIter = 60).count() }
      time("pagerank_conv #3") { PageRank.run(edges, tol = 1e-6, maxIter = 60).count() }
    }

    if (want("prmem")) {
      (1 to 3).foreach { i =>
        time(s"pagerank parquet #$i") {
          PageRank.run(edges, tol = 1e-6, maxIter = 60).count()
        }
        time(s"pagerank memTrunc #$i") {
          PageRank.run(edges, tol = 1e-6, maxIter = 60, memTruncate = true).count()
        }
      }
    }

    if (want("cc")) {
      time("cc #1") { Components.run(edges).count() }
      time("cc #2") { Components.run(edges).count() }
      time("cc #3") { Components.run(edges).count() }
    }

    if (want("lpa")) {
      time("lpa #1") { LabelProp.run(edges, iters = 3).count() }
      time("lpa #2") { LabelProp.run(edges, iters = 3).count() }
    }

    if (want("walks")) {
      val starts20k = Walk.equalStarts(edges, 20000L)
      time("deepwalk #1") { Walk.firstOrder(edges, starts20k, maxSteps = 10).count() }
      time("deepwalk #2") { Walk.firstOrder(edges, starts20k, maxSteps = 10).count() }
      time("deepwalk_chained #1") {
        Walk.firstOrderChained(edges, starts20k, maxSteps = 10).count()
      }
      time("deepwalk_chained #2") {
        Walk.firstOrderChained(edges, starts20k, maxSteps = 10).count()
      }
      val starts5k = Walk.equalStarts(edges, 5000L)
      time("node2vec #1") {
        Walk.node2vec(edges, starts5k, maxSteps = 6, p = 2.0, q = 0.5).count()
      }
      time("node2vec_chained #1") {
        Walk.node2vecChained(edges, starts5k, maxSteps = 6, p = 2.0, q = 0.5).count()
      }
      Walk.releaseCaches()
    }

    if (want("triangles")) {
      time("triangles #1") { Triangles.count(edges).head() }
      time("triangles #2") { Triangles.count(edges).head() }
    }

    edges.unpersist(false)
  }
}
