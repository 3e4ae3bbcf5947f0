package graft

import org.apache.spark.sql.functions._
import graft.walk.Walk

/** Local-chaining walk fast path: same semantics as the join-based walk
  * (distributionally), deterministic across parallelism. */
class ChainSpec extends SparkSpec {

  lazy val g = randomEdges(vNum = 30, eNum = 200, seed = 13).cache()

  test("chained walk: one path per walker, contiguous steps, length <= L+1") {
    val fp = Walk.firstOrderChained(g, Walk.equalStarts(g, 100), maxSteps = 5)
    val paths = Walk.paths(fp).collect()
    assert(paths.length === 100)
    paths.foreach { r =>
      val p = r.getSeq[Long](1)
      assert(p.nonEmpty && p.size <= 6)
    }
    assert(fp.groupBy("walkerId", "step").count().filter(col("count") > 1).isEmpty)
    // every consecutive footprint pair is a real edge
    val edges = collectEdges(g).map(e => (e._1, e._2)).toSet
    paths.foreach { r =>
      r.getSeq[Long](1).sliding(2).foreach { pr =>
        if (pr.size == 2) assert(edges((pr(0), pr(1))), s"phantom ${pr(0)}->${pr(1)}")
      }
    }
  }

  test("chained walk is deterministic across parallelism and bucket counts") {
    // tailThreshold = 0 pins the cogroup kernel — the driver tail's
    // parity with it has its own tests below
    val starts = Walk.equalStarts(g, 50)
    val a = Walk.firstOrderChained(g, starts, maxSteps = 4, buckets = 2,
        tailThreshold = 0L)
      .orderBy("walkerId", "step").collect().toSeq
    val b = Walk.firstOrderChained(g.repartition(7), starts, maxSteps = 4, buckets = 5,
        tailThreshold = 0L)
      .orderBy("walkerId", "step").collect().toSeq
    assert(a === b)
  }

  def fpSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("driver tail == cogroup path, bitwise (firstOrderChained, mixed run)") {
    // 6000 walkers with keepProb .6: the first rounds run the cogroup
    // kernel (active > threshold), the geometric die-off then hands the
    // survivors to the driver tail — all three threshold settings must
    // produce identical footprints
    val starts = Walk.equalStarts(g, 6000)
    val cogroupOnly = fpSet(Walk.firstOrderChained(g, starts, maxSteps = 12,
      keepProb = 0.6, seed = 7, buckets = 4, tailThreshold = 0L))
    val mixed = fpSet(Walk.firstOrderChained(g, starts, maxSteps = 12,
      keepProb = 0.6, seed = 7, buckets = 4))
    val tailOnly = fpSet(Walk.firstOrderChained(g, starts, maxSteps = 12,
      keepProb = 0.6, seed = 7, buckets = 4, tailThreshold = Long.MaxValue))
    assert(mixed === cogroupOnly)
    assert(tailOnly === cogroupOnly)
    assert(cogroupOnly.nonEmpty)
  }

  test("driver tail == cogroup path, bitwise (node2vecChained incl. hub crossers)") {
    // star hub + ring (the WalkerStateSpec hub shape): capped crossers'
    // prevNbrs must resolve identically via the local fetch map and via
    // the distributed resolution join
    import spark.implicits._
    val star = (1L to 99L).flatMap(i => Seq((0L, i, 1.0), (i, 0L, 1.0)))
    val ring = (1L until 99L).map(i => (i, i + 1, 2.0)) :+ ((99L, 1L, 2.0))
    val edges = (star ++ ring).toDF("src", "dst", "weight")
    val starts = Walk.equalStarts(edges, 400)
    val dist = fpSet(Walk.node2vecChained(edges, starts, maxSteps = 8, p = 2.0, q = 0.5,
      seed = 33, buckets = 8, crosserCap = 4, tailThreshold = 0L))
    val tail = fpSet(Walk.node2vecChained(edges, starts, maxSteps = 8, p = 2.0, q = 0.5,
      seed = 33, buckets = 8, crosserCap = 4))
    assert(tail === dist)
    assert(dist.nonEmpty)
  }

  test("driver tail == cogroup path, bitwise (metapathChained)") {
    val tg = g.withColumn("etype", pmod(col("src") + col("dst"), lit(3)).cast("int"))
    val schemes = Seq(
      Seq(Seq(true, false, false), Seq(false, true, true)),
      Seq(Seq(true, true, false)))
    val starts = Walk.equalStarts(tg, 60)
    val dist = fpSet(Walk.metapathChained(tg, starts, schemes, maxSteps = 5, buckets = 2,
      tailThreshold = 0L))
    val tail = fpSet(Walk.metapathChained(tg, starts, schemes, maxSteps = 5, buckets = 2))
    assert(tail === dist)
    assert(dist.nonEmpty)
  }

  test("epoched chained == one big chained run, bitwise") {
    val n = 90L
    def startsFor(b: Long, e: Long) =
      Walk.equalStarts(g, n).filter(col("walkerId") >= b && col("walkerId") < e)
    val one = fpSet(Walk.firstOrderChained(g, Walk.equalStarts(g, n), maxSteps = 6,
      keepProb = 0.8, seed = 5))
    val ep = fpSet(Walk.epoched(spark, n, epochs = 4) { case (b, e) =>
      Walk.firstOrderChained(g, startsFor(b, e), maxSteps = 6, keepProb = 0.8, seed = 5)
    })
    assert(ep === one)
    val one2 = fpSet(Walk.node2vecChained(g, Walk.equalStarts(g, n), maxSteps = 4,
      p = 2.0, q = 0.5, seed = 5))
    val ep2 = fpSet(Walk.epoched(spark, n, epochs = 3) { case (b, e) =>
      Walk.node2vecChained(g, startsFor(b, e), maxSteps = 4, p = 2.0, q = 0.5, seed = 5)
    })
    assert(ep2 === one2)
  }

  test("epoched with zero walkers returns an empty footprint frame") {
    def startsFor(b: Long, e: Long) =
      Walk.equalStarts(g, 1L).filter(col("walkerId") >= b && col("walkerId") < e)
    val fp = Walk.epoched(spark, numWalkers = 0L, epochs = 3) { case (b, e) =>
      Walk.firstOrderChained(g, startsFor(b, e), maxSteps = 4)
    }
    assert(fp.columns.toSeq === Seq("walkerId", "step", "vertex"))
    assert(fp.count() === 0L)
    assert(Walk.epoched(spark, numWalkers = 0L, epochs = 2) { case (b, e) =>
      Walk.firstOrder(g, startsFor(b, e), maxSteps = 4)
    }.count() === 0L)
  }

  test("chained walk transition frequencies match weights") {
    val edges = collectEdges(g)
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nV = edges.flatMap(e => Seq(e._1, e._2)).distinct.size
    val fp = Walk.firstOrderChained(g, Walk.equalStarts(g, nV * 2000L), maxSteps = 1)
    val paths = Walk.paths(fp).collect().map(r => r.getSeq[Long](1))
    val trans = scala.collection.mutable.Map[(Long, Long), Long]().withDefaultValue(0L)
    val startCount = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    paths.foreach { p =>
      startCount(p(0)) += 1
      if (p.size == 2) trans((p(0), p(1))) += 1
    }
    var sqErr = 0.0
    for ((s, d, w) <- edges if startCount(s) > 0) {
      val expP = w / outW(s)
      val gotP = trans((s, d)).toDouble / startCount(s)
      sqErr += (expP - gotP) * (expP - gotP)
    }
    assert(sqErr < 0.05, s"sqErr=$sqErr")
  }

  test("chained geometric termination: mean length ~ 1/(1-keepProb)") {
    val keep = 0.75
    val fp = Walk.firstOrderChained(g, Walk.equalStarts(g, 4000),
      maxSteps = 60, keepProb = keep)
    val lens = Walk.paths(fp).select(size(col("path"))).collect().map(_.getInt(0).toDouble)
    val mean = lens.sum / lens.length
    assert(math.abs(mean - 1.0 / (1 - keep)) < 0.3, s"mean=$mean")
  }

  test("chained node2vec is deterministic across parallelism and bucket counts") {
    val starts = Walk.equalStarts(g, 50)
    val a = Walk.node2vecChained(g, starts, maxSteps = 4, p = 2.0, q = 0.5, buckets = 2,
        tailThreshold = 0L)
      .orderBy("walkerId", "step").collect().toSeq
    val b = Walk.node2vecChained(g.repartition(7), starts, maxSteps = 4, p = 2.0, q = 0.5,
        buckets = 5, tailThreshold = 0L)
      .orderBy("walkerId", "step").collect().toSeq
    assert(a === b)
  }

  test("chained node2vec second-order frequencies match the exact biased distribution") {
    val p = 2.0; val q = 0.5
    val edges = collectEdges(g)
    val adj = edges.groupBy(_._1).view
      .mapValues(_.map(e => (e._2, e._3)).sortBy(_._1)).toMap
    val nbrSet = adj.view.mapValues(_.map(_._1).toSet).toMap

    // exact biased P(next | prev, cur)
    def expP(prev: Long, cur: Long, nxt: Long): Double = {
      val cands = adj(cur)
      val bw = cands.map { case (c, w) =>
        val b = if (c == prev) 1.0 / p
          else if (nbrSet.getOrElse(prev, Set.empty).contains(c)) 1.0 else 1.0 / q
        (c, w * b)
      }
      bw.find(_._1 == nxt).map(_._2).getOrElse(0.0) / bw.map(_._2).sum
    }

    val nV = edges.flatMap(e => Seq(e._1, e._2)).distinct.size
    val fp = Walk.node2vecChained(g, Walk.equalStarts(g, nV * 3000L),
      maxSteps = 2, p = p, q = q)
    val paths = Walk.paths(fp).collect().map(_.getSeq[Long](1)).filter(_.size == 3)
    val ctxCount = scala.collection.mutable.Map[(Long, Long), Long]().withDefaultValue(0L)
    val triCount = scala.collection.mutable.Map[(Long, Long, Long), Long]().withDefaultValue(0L)
    paths.foreach { t =>
      ctxCount((t(0), t(1))) += 1
      triCount((t(0), t(1), t(2))) += 1
    }
    var sqErr = 0.0
    var n = 0
    for (((pv, cv, nv2), c) <- triCount if ctxCount((pv, cv)) >= 200) {
      val got = c.toDouble / ctxCount((pv, cv))
      val exp = expP(pv, cv, nv2)
      sqErr += (got - exp) * (got - exp)
      n += 1
    }
    assert(n > 10, s"too few well-sampled contexts: $n")
    assert(sqErr / n < 0.002, s"mean sqErr=${sqErr / n} over $n triples")
  }

  test("chained metapath: deterministic across parallelism/buckets, scheme-respecting") {
    val tg = g.withColumn("etype", pmod(col("src") + col("dst"), lit(3)).cast("int"))
    val schemes = Seq(
      Seq(Seq(true, false, false), Seq(false, true, true)),
      Seq(Seq(true, true, false)))
    val starts = Walk.equalStarts(tg, 60)
    val a = Walk.metapathChained(tg, starts, schemes, maxSteps = 5, buckets = 2,
        tailThreshold = 0L)
      .orderBy("walkerId", "step").collect().toSeq
    val b = Walk.metapathChained(tg.repartition(7), starts, schemes, maxSteps = 5,
        buckets = 5, tailThreshold = 0L)
      .orderBy("walkerId", "step").collect().toSeq
    assert(a === b)
    // every step honors its walker's scheme mask (etype = (src+dst) mod 3)
    val nSchemes = schemes.size
    a.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).groupBy(_._1)
      .foreach { case (w, rows) =>
        val scheme = schemes((w % nSchemes).toInt)
        val sorted = rows.sortBy(_._2)
        assert(sorted.map(_._2) === sorted.indices, s"walker $w steps not contiguous")
        sorted.sliding(2).foreach { pr =>
          if (pr.size == 2) {
            val et = ((pr(0)._3 + pr(1)._3) % 3).toInt
            val stepTaken = pr(0)._2
            assert(scheme(stepTaken % scheme.length)(et),
              s"walker $w took disallowed etype $et at step $stepTaken")
          }
        }
      }
  }

  test("chained metapath first-step frequencies match the masked-weight distribution") {
    val tg = g.withColumn("etype", pmod(col("src") + col("dst"), lit(2)).cast("int"))
    val schemes = Seq(Seq(Seq(true, false)), Seq(Seq(false, true)))
    val edges = collectEdges(g)
    def et(u: Long, v: Long): Int = ((u + v) % 2).toInt
    // exact masked P(next | scheme, cur)
    def expP(scheme: Int, cur: Long, nxt: Long): Double = {
      val allowed = edges.filter(e => e._1 == cur && et(e._1, e._2) == scheme)
      val tot = allowed.map(_._3).sum
      if (tot <= 0) 0.0 else allowed.filter(_._2 == nxt).map(_._3).sum / tot
    }
    val nV = edges.flatMap(e => Seq(e._1, e._2)).distinct.size
    val fp = Walk.metapathChained(tg, Walk.equalStarts(tg, nV * 3000L), schemes,
      maxSteps = 1)
    val rows = fp.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val starts0 = rows.filter(_._2 == 0).map(r => r._1 -> r._3).toMap
    val steps1 = rows.filter(_._2 == 1)
    val ctx = scala.collection.mutable.Map[(Int, Long), Long]().withDefaultValue(0L)
    val cnt = scala.collection.mutable.Map[(Int, Long, Long), Long]().withDefaultValue(0L)
    steps1.foreach { case (w, _, v1) =>
      val s = (w % 2).toInt
      val v0 = starts0(w)
      ctx((s, v0)) += 1
      cnt((s, v0, v1)) += 1
    }
    var sqErr = 0.0
    var n = 0
    for (((s, v0, v1), c) <- cnt if ctx((s, v0)) >= 300) {
      val got = c.toDouble / ctx((s, v0))
      sqErr += math.pow(got - expP(s, v0, v1), 2)
      n += 1
    }
    assert(n > 10, s"too few well-sampled contexts: $n")
    assert(sqErr / n < 0.002, s"mean sqErr=${sqErr / n} over $n contexts")
  }

  /** Canonical digest of a footprint frame: every row rendered as its
    * comma-joined columns, rows sorted, then SHA-256 over the
    * newline-joined text. Returned as "rows:first-16-hex". */
  def golden(df: org.apache.spark.sql.DataFrame): String = {
    val rows = df.collect().map(_.toSeq.mkString(",")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${rows.length}:${hex.take(16)}"
  }

  // Golden digests of each chained engine, generated before the engines
  // were folded into one driver. The cogroup-only (tailThreshold = 0) and
  // tail-only (Long.MaxValue) runs must both reproduce them: the parity
  // tests above only compare chained paths with each other, so a change
  // altering both paths the same way would slip past them.
  val goldenFirstOrder = "1346:96d54608cbd196d5"
  val goldenNode2vec = "2100:89a565f64f5d2be8"
  val goldenNode2vecHub = "3600:22bb26b45619f08b"
  val goldenMetapath = "2064:1f1b61ecf01799d0"
  val goldenStateful = "1408:3930b4553515b0c3"

  // tailThreshold 0 runs the cogroup only, Long.MaxValue the driver tail only
  private val bothPaths = Seq(0L, Long.MaxValue)

  test("golden digests: firstOrderChained, cogroup-only and tail-only") {
    val starts = Walk.equalStarts(g, 300)
    bothPaths.foreach { t =>
      assert(golden(Walk.firstOrderChained(g, starts, maxSteps = 8, keepProb = 0.8,
        seed = 101, buckets = 4, tailThreshold = t)) === goldenFirstOrder, s"tailThreshold=$t")
    }
  }

  test("golden digests: node2vecChained, cogroup-only, tail-only and hub crossers") {
    val starts = Walk.equalStarts(g, 300)
    bothPaths.foreach { t =>
      assert(golden(Walk.node2vecChained(g, starts, maxSteps = 6, p = 2.0, q = 0.5,
        seed = 103, buckets = 4, tailThreshold = t)) === goldenNode2vec, s"tailThreshold=$t")
    }
    // crosserCap = 1: every crossing ships an empty prevNbrs, so the
    // distributed resolution join (cogroup rounds) and the tail's prev
    // fetch (mixed run) both re-arm it
    import spark.implicits._
    val star = (1L to 99L).flatMap(i => Seq((0L, i, 1.0), (i, 0L, 1.0)))
    val ring = (1L until 99L).map(i => (i, i + 1, 2.0)) :+ ((99L, 1L, 2.0))
    val hub = (star ++ ring).toDF("src", "dst", "weight")
    val hubStarts = Walk.equalStarts(hub, 400)
    Seq(0L, 150L).foreach { t =>
      assert(golden(Walk.node2vecChained(hub, hubStarts, maxSteps = 8, p = 2.0, q = 0.5,
        seed = 107, buckets = 8, crosserCap = 1, tailThreshold = t)) === goldenNode2vecHub,
        s"tailThreshold=$t")
    }
  }

  test("golden digests: metapathChained, cogroup-only and tail-only") {
    val tg = g.withColumn("etype", pmod(col("src") + col("dst"), lit(3)).cast("int"))
    val schemes = Seq(
      Seq(Seq(true, false, true), Seq(false, true, true)),
      Seq(Seq(true, true, false)))
    val starts = Walk.equalStarts(tg, 300)
    bothPaths.foreach { t =>
      assert(golden(Walk.metapathChained(tg, starts, schemes, maxSteps = 6, seed = 109,
        buckets = 4, tailThreshold = t)) === goldenMetapath, s"tailThreshold=$t")
    }
  }

  test("golden digests: genericStatefulChained keeps the state column") {
    implicit val enc = org.apache.spark.sql.Encoders.scalaLong
    val cfg = Walk.StatefulConfig[Long](
      init = (wid, v) => wid * 31L + v,
      bias = (_, st, _, dst, _, _) => if ((st + dst) % 3 == 0) 2.0 else 1.0,
      update = (st, _, _, nxt) => st * 1099511628211L + nxt,
      extension = (_, st, _) => if (st % 13 == 0) 0.0 else 0.9)
    val starts = Walk.equalStarts(g, 300)
    bothPaths.foreach { t =>
      val fp = Walk.genericStatefulChained(g, starts, maxSteps = 8, cfg, seed = 113,
        buckets = 4, tailThreshold = t)
      assert(fp.columns.toSeq === Seq("walkerId", "step", "vertex", "state"))
      assert(golden(fp) === goldenStateful, s"tailThreshold=$t")
    }
  }

  test("chaining actually chains on chain-shaped graphs (few outer rounds)") {
    import spark.implicits._
    // one long path graph: all steps should complete in ~1 outer round
    val chain = (0L until 200L).sliding(2).map(p => (p(0), p(1), 1.0)).toSeq
      .toDF("src", "dst", "weight")
    val starts = Seq((0L, 0L), (1L, 50L)).toDF("walkerId", "curV")
    val fp = Walk.firstOrderChained(chain, starts, maxSteps = 30, buckets = 2,
      tailThreshold = 0L)
    val paths = Walk.paths(fp).collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(paths(0L) === (0L to 30L))
    assert(paths(1L) === (50L to 80L))
  }
}
