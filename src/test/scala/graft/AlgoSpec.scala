package graft

import org.apache.spark.sql.functions._
import graft.algo.{Components, LabelProp, PageRank, Triangles}
import graft.engine.Iterate

/** Exact in-test oracles (FIXTURES.md §5): dense power iteration, union-
  * find, reference LPA, brute-force triangles — all driver-side doubles. */
class AlgoSpec extends SparkSpec {

  /** Dense driver-side PageRank oracle (same semantics as graft.algo). */
  def pagerankOracle(
      edges: Seq[(Long, Long, Double)], alpha: Double, iters: Int): Map[Long, Double] = {
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = verts.zipWithIndex.toMap
    val n = verts.size
    val outW = new Array[Double](n)
    edges.foreach { case (s, _, w) => outW(idx(s)) += w }
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iters) {
      val contrib = new Array[Double](n)
      edges.foreach { case (s, d, w) => contrib(idx(d)) += r(idx(s)) * w / outW(idx(s)) }
      val dangling = verts.indices.collect { case i if outW(i) == 0.0 => r(i) }.sum
      r = verts.indices.map(i => (1 - alpha) / n + alpha * (contrib(i) + dangling / n)).toArray
    }
    verts.zip(r).toMap
  }

  test("PageRank matches dense power iteration (allclose 1e-6, fixed 10 iters)") {
    val df = randomEdges(vNum = 120, eNum = 600, seed = 7)
    val got = PageRank.run(df, fixedIter = Some(10)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exp = pagerankOracle(collectEdges(df), 0.85, 10)
    assert(got.keySet === exp.keySet)
    val maxDelta = got.map { case (v, r) => math.abs(r - exp(v)) }.max
    assert(maxDelta < 1e-6, s"maxDelta=$maxDelta")
  }

  test("PageRank convergence: successive-iterate delta < 1e-6 and mass conserved") {
    val df = randomEdges(vNum = 100, eNum = 400, seed = 11)
    val got = PageRank.run(df, tol = 1e-6, maxIter = 100).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // compare against a long-run dense fixpoint
    val exp = pagerankOracle(collectEdges(df), 0.85, 200)
    val maxDelta = got.map { case (v, r) => math.abs(r - exp(v)) }.max
    assert(maxDelta < 1e-5, s"maxDelta=$maxDelta")
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("PageRank is bitwise deterministic with many dangling vertices and several tasks") {
    // every vertex id divisible by 3 loses its out-edges: a large
    // dangling mass, summed over 8 post-shuffle tasks each iteration
    val g = randomEdges(40000, 120000, seed = 11).filter(col("src") % 3 =!= 0)
    val runs = graft.engine.Conf.withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
      (1 to 6).map { _ =>
        val ranks = PageRank.run(g, tol = 1e-9).collect()
          .map(r => r.getLong(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
          .sorted.toSeq
        (ranks, Iterate.lastIterations)
      }
    }
    runs.tail.foreach { case (ranks, iters) =>
      assert(iters === runs.head._2)
      assert(ranks.size === runs.head._1.size)
      val differing = ranks.zip(runs.head._1).count { case (a, b) => a != b }
      assert(differing === 0)
    }
  }

  test("PageRank labels every job it starts and restores the caller's description") {
    val sc = spark.sparkContext
    val g = randomEdges(vNum = 100, eNum = 400, seed = 5)
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.setJobDescription("caller")
    sc.addSparkListener(l)
    try {
      PageRank.run(g, tol = 1e-6)
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)
    } finally {
      sc.removeSparkListener(l)
      sc.setJobDescription(null)
    }
    val all = descs.toArray(Array.empty[String]).toSeq
    assert(all.nonEmpty)
    assert(all.forall(_.startsWith("pagerank:")), all.distinct)
    Seq("pagerank:setup", "pagerank:iter=0", "pagerank:iter=1").foreach(d =>
      assert(all.contains(d), all.distinct))
  }

  test("PageRank setup failure cancels the sibling setup job before run throws") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    // 20 ms per edge row: one pass over the edges takes about 10 s on 4
    // cores, so an uncancelled sibling either outlives run or makes run
    // wait for it to succeed. The checkpoint keeps the optimizer from
    // evaluating the UDF over the local rows while planning.
    val slow = udf { (w: Double) => Thread.sleep(20); w }
    val g = randomEdges(vNum = 200, eNum = 2000, seed = 13).localCheckpoint()
      .withColumn("weight", slow(col("weight")))
    // cancel the first setup job; count the setup jobs that succeed anyway
    val setupJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val succeeded = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "pagerank:setup")) {
          if (setupJobs.isEmpty) sc.cancelJob(e.jobId)
          setupJobs.add(e.jobId)
        }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (setupJobs.contains(e.jobId) && e.jobResult == org.apache.spark.scheduler.JobSucceeded)
          succeeded.incrementAndGet()
    }
    sc.setJobDescription("caller")
    sc.addSparkListener(l)
    try {
      intercept[Exception](PageRank.run(g))
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      // a sibling still being planned when run threw submits its job within
      // this wait; left uncancelled, that job then runs for about 10 s
      Thread.sleep(1000)
      eventually(timeout(3.seconds), interval(50.millis)) {
        assert(sc.statusTracker.getActiveJobIds().isEmpty)
      }
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)
    } finally {
      sc.removeSparkListener(l)
      sc.setJobDescription(null)
    }
    assert(!setupJobs.isEmpty)
    // the sibling was cancelled, not left to finish before run threw
    assert(succeeded.get === 0)
  }

  test("connected components match union-find exactly (incl. long chains)") {
    // a chain of 400 plus random clusters — exercises pointer jumping
    import spark.implicits._
    val chain = (0L until 400L).sliding(2).map(p => (p(0), p(1), 1.0)).toSeq
    val rest = collectEdges(randomEdges(vNum = 200, eNum = 300, seed = 3))
      .map { case (s, d, w) => (s + 1000L, d + 1000L, w) }
    val all = chain ++ rest
    val df = all.toDF("src", "dst", "weight")
    val got = Components.run(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // union-find oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    def union(a: Long, b: Long): Unit = { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    all.foreach { case (s, d, _) => union(s, d) }
    val exp = parent.keys.map(v => v -> find(v)).toMap ++
      all.flatMap(e => Seq(e._1, e._2)).map(v => v -> find(v)).toMap
    assert(got === exp)
  }

  test("CC converges on adversarially-ordered paths (the r1 pointer-jump pathology)") {
    // a pure path whose vertex ids are randomly permuted along it: the
    // round-1 min-label+pointer-jump recurrence needed >300 rounds here
    // and silently hit maxIter; large-star/small-star must converge well
    // inside the cap on every seed
    import spark.implicits._
    Seq(1, 7, 23).foreach { seed =>
      val n = 600
      val perm = new scala.util.Random(seed).shuffle((0L until n.toLong).toVector)
      val edges = perm.sliding(2).map(p => (p(0), p(1), 1.0)).toSeq
        .toDF("src", "dst", "weight")
      val got = Components.run(edges, runName = s"cc-adv-$seed")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(graft.engine.Iterate.lastConverged)
      assert(graft.engine.Iterate.lastIterations <= 25,
        s"seed=$seed took ${graft.engine.Iterate.lastIterations} rounds")
      assert(got.size === n && got.values.forall(_ == 0L || got.values.min == 0L))
      assert(got.values.toSet.size === 1, "a single path must be one component")
    }
  }

  test("CC local pre-contraction: identical exact ids, fewer global rounds") {
    import spark.implicits._
    // chains spanning partition boundaries + random clusters + repartition
    // noise so local union-find pieces MUST compose across partitions
    val chain = (0L until 500L).sliding(2).map(p => (p(0), p(1), 1.0)).toSeq
    val cross = (0L until 480L by 37L).map(i => (i, i + 17L, 1.0))
    val rest = collectEdges(randomEdges(vNum = 150, eNum = 250, seed = 11))
      .map { case (s, d, w) => (s + 2000L, d + 2000L, w) }
    val df = (chain ++ cross ++ rest).toDF("src", "dst", "weight").repartition(7)

    val plain = Components.run(df, runName = "cc-nopre", preContract = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plainRounds = graft.engine.Iterate.lastIterations
    val preRows = Components.run(df, runName = "cc-pre", preContract = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val preRounds = graft.engine.Iterate.lastIterations
    // exactly ONE row per vertex: boundary vertices belong to a local
    // piece in several partitions and must not emit duplicate rows
    // (caught by the q_cc oracle as a 1005-for-1000 rowcount)
    assert(preRows.length === plain.size)
    val pre = preRows.toMap
    assert(pre === plain)
    assert(preRounds <= plainRounds,
      s"pre-contraction used MORE rounds ($preRounds > $plainRounds)")
  }

  test("LPA matches reference driver implementation (3 iters, smallest-label ties)") {
    val df = randomEdges(vNum = 60, eNum = 240, seed = 5)
    val got = LabelProp.run(df, iters = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val edges = collectEdges(df)
    val und = edges.flatMap { case (s, d, w) => Seq((s, d, w.toLong), (d, s, w.toLong)) }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var label = verts.map(v => v -> v).toMap
    for (_ <- 1 to 3) {
      val next = und.groupBy(_._2).map { case (v, in) =>
        val byLabel = in.groupBy(e => label(e._1)).view.mapValues(_.map(_._3).sum).toMap
        val best = byLabel.toSeq.sortBy { case (l, w) => (-w, l) }.head._1
        v -> best
      }
      label = label ++ next
    }
    assert(got === label)
  }

  test("triangle count matches brute force, globally and per vertex") {
    val df = randomEdges(vNum = 40, eNum = 300, seed = 9)
    val gotTotal = Triangles.count(df).head().getLong(0)
    val gotPerV = Triangles.perVertex(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val und = collectEdges(df)
      .map { case (s, d, _) => (math.min(s, d), math.max(s, d)) }.distinct.toSet
    val verts = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    var total = 0L
    val perV = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      i <- verts.indices; j <- (i + 1) until verts.size; k <- (j + 1) until verts.size
      (a, b, c) = (verts(i), verts(j), verts(k))
      if und((a, b)) && und((b, c)) && und((a, c))
    } { total += 1; perV(a) += 1; perV(b) += 1; perV(c) += 1 }
    assert(gotTotal === total)
    assert(gotPerV === perV.toMap)
  }
}
