package graft

import graft.walk.Walk

/** KnightKing-style rejection-sampling second-order engine (SURVEY.md §2.4
  * T4/T5; reference include/walk.hpp:981-1014, 1033, 1126-1379 and
  * src/apps/node2vec.hpp:108-202): the rejection dartboard with
  * lower-bound pre-acceptance and the return-edge outlier appendix must
  * produce EXACTLY the node2vec law the exact-distribution engine
  * computes in closed form — rejection changes the query traffic, never
  * the distribution. */
class RejectSpec extends SparkSpec {
  import spark.implicits._

  lazy val smallGraph = randomEdges(vNum = 30, eNum = 200, seed = 13).cache()

  /** Empirical P(v2 | v0→v1) over many walkers vs the analytic node2vec
    * law (same harness as WalkSpec's exact-engine matrix test). */
  private def freqCheck(p: Double, q: Double, seed: Long,
      engine: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame
        = null): Unit = {
    val edges = collectEdges(smallGraph)
    val adjm =
      edges.groupBy(_._1).view.mapValues(_.map(e => e._2 -> e._3).toMap).toMap
    val starts = Walk.equalStarts(smallGraph, 60000)
    val fp =
      if (engine != null) engine(starts)
      else Walk.node2vecReject(smallGraph, starts,
        maxSteps = 2, p = p, q = q, seed = seed)
    val paths =
      Walk.paths(fp).collect().map(r => r.getSeq[Long](1)).filter(_.size == 3)
    val byEdge = paths.groupBy(pp => (pp(0), pp(1)))
    var sqErr = 0.0; var cases = 0
    for (((v0, v1), ps) <- byEdge if ps.length >= 300) {
      val nbrs = adjm(v1)
      val biased = nbrs.map { case (c, w) =>
        val bias = if (c == v0) 1 / p
          else if (adjm.get(v0).exists(_.contains(c))) 1.0
          else 1 / q
        c -> w * bias
      }
      val tot = biased.values.sum
      val counts = ps.groupBy(_(2)).view.mapValues(_.length).toMap
      // support: only actual out-edges of v1 are ever accepted
      assert(counts.keySet.subsetOf(nbrs.keySet))
      for ((c, bw) <- biased) {
        val gotP = counts.getOrElse(c, 0).toDouble / ps.length
        val expP = bw / tot
        sqErr += (gotP - expP) * (gotP - expP); cases += 1
      }
    }
    assert(cases > 50, s"only $cases cases with enough samples")
    assert(sqErr / cases < 0.001, s"mean sqErr ${sqErr / cases} (p=$p q=$q)")
  }

  test("rejection engine matches the exact node2vec law — outlier regime (1/p > ub)") {
    // p=0.5 ⇒ 1/p = 2 > ub = max(1, 1/q) = 1: the return edge is the
    // reference's single outlier (node2vec.hpp:137-139) and the appendix
    // area is live on every step whose current vertex can walk back
    Walk.rejectLog.clear()
    freqCheck(p = 0.5, q = 2.0, seed = 31)
    val its = Walk.rejectLog.iterator()
    var pre = 0L; var app = 0L; var joined = 0L
    while (its.hasNext) {
      val (a, b, c) = its.next(); pre += a; app += b; joined += c
    }
    // T4: the lower bound (lb = 0.5, ub = 1) pre-accepts about half the
    // regular proposals without any membership query; T5: appendix darts
    // land (1/p > ub and the graph has return edges)
    assert(pre > 0, "lower-bound pre-acceptance never fired")
    assert(app > 0, "outlier appendix never hit despite 1/p > ub")
    assert(joined < pre + app + joined,
      "every proposal went through the membership join — T4 saved nothing")
  }

  test("rejection engine matches the exact node2vec law — no-outlier regime") {
    // p=2, q=0.5 ⇒ 1/p = 0.5 ≤ ub = 2: no outlier, appendix area is zero
    Walk.rejectLog.clear()
    freqCheck(p = 2.0, q = 0.5, seed = 37)
    val its = Walk.rejectLog.iterator()
    var app = 0L
    while (its.hasNext) app += its.next()._2
    assert(app == 0, s"appendix hit $app times with 1/p <= ub")
  }

  test("deterministic across runs and parallelism; one footprint per accepted position") {
    val starts = Walk.equalStarts(smallGraph, 500)
    val run1 = Walk.node2vecReject(smallGraph, starts, maxSteps = 4,
      p = 0.5, q = 2.0, seed = 7).collect().map(_.toString).sorted
    val run2 = Walk.node2vecReject(smallGraph, starts, maxSteps = 4,
      p = 0.5, q = 2.0, seed = 7).collect().map(_.toString).sorted
    assert(run1.sameElements(run2))
    // rejected trials never duplicate a footprint: (walkerId, step) unique
    val fp = Walk.node2vecReject(smallGraph, starts, maxSteps = 4,
      p = 0.5, q = 2.0, seed = 7)
    assert(fp.groupBy("walkerId", "step").count().filter($"count" > 1).isEmpty)
  }

  test("zero-out-degree vertices terminate walkers (reference walk.hpp:956-961)") {
    // b and d are sinks: every walker stops the moment it reaches one
    val chain = Seq((0L, 1L, 1.0), (0L, 3L, 1.0), (2L, 0L, 2.0))
      .toDF("src", "dst", "weight")
    val starts = Seq((0L, 2L), (1L, 0L)).toDF("walkerId", "curV")
    val fp = Walk.node2vecReject(chain, starts, maxSteps = 8,
      p = 0.5, q = 2.0, seed = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byWalker = fp.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(byWalker(0L) == 2, "walker from 2 goes 2→0→{1|3} then dies")
    assert(byWalker(1L) == 1, "walker from 0 takes one step then dies")
    val ends = fp.filter(r => r._2 == byWalker(r._1)).map(_._3).toSet
    assert(ends.subsetOf(Set(1L, 3L)))
  }

  /** node2vec's Pd as a user hook for the GENERIC rejection surface. */
  private def n2vHook(p: Double, q: Double) =
    Walk.SecondOrderConfig(dynamic2 = (_, prevV, prevNbrs, dst, _) =>
      if (dst == prevV) 1.0 / p
      else if (prevNbrs != null &&
        java.util.Arrays.binarySearch(prevNbrs.toArray, dst) >= 0) 1.0
      else 1.0 / q)

  test("generic2Reject (user Pd + declared bounds) matches the node2vec law; lb pre-accepts") {
    val p = 2.0; val q = 0.5
    // Pd values are {1/p, 1, 1/q} = {0.5, 1, 2}: tight user bounds
    Walk.rejectLog.clear()
    freqCheck(p, q, seed = 41, engine = starts =>
      Walk.generic2Reject(smallGraph, starts, maxSteps = 2, n2vHook(p, q),
        upper = 2.0, lower = 0.5, seed = 41))
    val its = Walk.rejectLog.iterator()
    var pre = 0L; var joined = 0L
    while (its.hasNext) { val e = its.next(); pre += e._1; joined += e._3 }
    assert(pre > 0, "lower bound never pre-accepted")
    assert(joined > 0, "no proposal ever needed the membership join")
  }

  test("generic2Reject outlier hooks re-derive node2vecReject's return-edge appendix law") {
    // p=0.5, q=2 ⇒ Pd(return) = 1/p = 2 > ub = max(1, 1/q) = 1: the
    // regime node2vecReject handles with its built-in appendix, here
    // declared through the GENERIC OutlierConfig2 hooks — one outlier
    // (the return edge, found via prevV), overflow (1/p − ub)·w_ret
    val p = 0.5; val q = 2.0
    val hooks = Walk.OutlierConfig2(
      bound = (_, prevV, _, nbrs, wts) => {
        val k = java.util.Arrays.binarySearch(nbrs.toArray, prevV)
        if (k >= 0) ((1.0 / p - 1.0) * wts(k), 1) else (0.0, 0)
      },
      search = (_, prevV, _, nbrs, _, i) =>
        if (i == 0) java.util.Arrays.binarySearch(nbrs.toArray, prevV) else -1)
    Walk.rejectLog.clear()
    freqCheck(p, q, seed = 43, engine = starts =>
      Walk.generic2Reject(smallGraph, starts, maxSteps = 2, n2vHook(p, q),
        upper = 1.0, lower = 0.5, seed = 43, outliers = Some(hooks)))
    var pre = 0L; var app = 0L; var joined = 0L
    val its = Walk.rejectLog.iterator()
    while (its.hasNext) {
      val e = its.next(); pre += e._1; app += e._2; joined += e._3
    }
    assert(app > 0, "generic appendix never hit in the outlier regime")
    assert(pre > 0, "lower bound never pre-accepted")
    assert(joined > 0, "no proposal ever needed the membership join")
  }

  test("generic2Reject outliers fail loudly on an overflow-contract violation") {
    // declare HALF the needed overflow for the return edge: the appendix
    // resolution must reject the Pd that exceeds ub + ovf/Ps
    val p = 0.5; val q = 2.0
    val hooks = Walk.OutlierConfig2(
      bound = (_, prevV, _, nbrs, wts) => {
        val k = java.util.Arrays.binarySearch(nbrs.toArray, prevV)
        if (k >= 0) (0.5 * (1.0 / p - 1.0) * wts(k), 1) else (0.0, 0)
      },
      search = (_, prevV, _, nbrs, _, i) =>
        if (i == 0) java.util.Arrays.binarySearch(nbrs.toArray, prevV) else -1)
    val starts = Walk.equalStarts(smallGraph, 20000)
    val e = intercept[Exception] {
      Walk.generic2Reject(smallGraph, starts, maxSteps = 3, n2vHook(p, q),
        upper = 1.0, lower = 0.5, seed = 47, outliers = Some(hooks)).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("outlier overflow")))
  }

  test("generic2Reject: zero-dynamic-mass positions die via the bounded exact fallback") {
    // 0 ⇄ 1 two-cycle; Pd(return edge) = 0 ⇒ at step ≥ 1 every candidate
    // has zero mass: pure rejection would spin forever, the engine must
    // fall back to one exact draw after maxTrials and kill the walker
    // (generic2's zero-total death)
    val cyc = Seq((0L, 1L, 1.0), (1L, 0L, 1.0)).toDF("src", "dst", "weight")
    val starts = Seq((0L, 0L), (1L, 1L)).toDF("walkerId", "curV")
    val cfg = Walk.SecondOrderConfig(dynamic2 = (_, prevV, _, dst, _) =>
      if (dst == prevV) 0.0 else 1.0)
    val fp = Walk.generic2Reject(cyc, starts, maxSteps = 10, cfg,
      upper = 1.0, lower = 0.0, maxTrials = 3, seed = 9)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // both walkers take exactly one step (the first-order start draw has
    // no Pd) and then die at the reversal
    assert(fp.map(_._2).max == 1)
    assert(fp.length == 4, s"expected 2 walkers × 2 footprints, got ${fp.length}")
  }

  test("generic2Reject fails loudly when the user Pd violates its declared bounds") {
    val cfg = Walk.SecondOrderConfig(dynamic2 = (_, _, _, _, _) => 2.0)
    val starts = Walk.equalStarts(smallGraph, 50)
    val e = intercept[Exception] {
      Walk.generic2Reject(smallGraph, starts, maxSteps = 3, cfg,
        upper = 1.0, lower = 0.0, seed = 3).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("outside declared bounds")))
  }

  test("genericReject (first-order user Pd + bounds) matches the exact dynamic law") {
    // Pd ∈ {0.5, 2.0} by dst parity — tight user bounds [0.5, 2.0]
    val pd: (Int, Long, Long, Double) => Double =
      (_, _, dst, _) => if (dst % 2 == 0) 2.0 else 0.5
    val cfg = Walk.TransitionConfig(dynamic = Some(pd))
    Walk.rejectLog.clear()
    val starts = Walk.equalStarts(smallGraph, 60000)
    val fp = Walk.genericReject(smallGraph, starts, maxSteps = 1, cfg,
      upper = 2.0, lower = 0.5, seed = 23)
    val edges = collectEdges(smallGraph)
    val adjm =
      edges.groupBy(_._1).view.mapValues(_.map(e => e._2 -> e._3).toMap).toMap
    val hops = Walk.paths(fp).collect().map(r => r.getSeq[Long](1))
      .filter(_.size == 2).groupBy(_.head)
    var sqErr = 0.0; var cases = 0
    for ((v0, ps) <- hops if ps.length >= 300) {
      val biased = adjm(v0).map { case (c, w) => c -> w * pd(0, v0, c, w) }
      val tot = biased.values.sum
      val counts = ps.groupBy(_(1)).view.mapValues(_.length).toMap
      assert(counts.keySet.subsetOf(adjm(v0).keySet))
      for ((c, bw) <- biased) {
        val gotP = counts.getOrElse(c, 0).toDouble / ps.length
        sqErr += math.pow(gotP - bw / tot, 2); cases += 1
      }
    }
    assert(cases > 50, s"only $cases cases with enough samples")
    assert(sqErr / cases < 0.001, s"mean sqErr ${sqErr / cases}")
    // T4 first-order: lb pre-accepts fired AND Pd was evaluated O(trials),
    // not O(degree): evals strictly below the exact engine's per-candidate
    // count (every alive walker × its out-degree)
    val its = Walk.rejectLog.iterator()
    var pre = 0L; var evals = 0L
    while (its.hasNext) { val e = its.next(); pre += e._1; evals += e._3 }
    val exactEvals = hops.valuesIterator.map(ps =>
      ps.length.toLong * adjm(ps.head.head).size).sum
    assert(pre > 0, "lower bound never pre-accepted")
    assert(evals > 0, "Pd never evaluated despite lb < ub")
    assert(evals < exactEvals,
      s"rejection evaluated Pd $evals times ≥ exact's $exactEvals")
  }

  test("genericReject: lb = ub = const evaluates ZERO Pd and is deterministic") {
    val cfg = Walk.TransitionConfig(dynamic = Some((_, _, _, _) => 1.0))
    Walk.rejectLog.clear()
    val starts = Walk.equalStarts(smallGraph, 400)
    val run1 = Walk.genericReject(smallGraph, starts, maxSteps = 4, cfg,
      upper = 1.0, lower = 1.0, seed = 17).collect().map(_.toString).sorted
    var evals = 0L
    val its = Walk.rejectLog.iterator()
    while (its.hasNext) evals += its.next()._3
    assert(evals == 0, s"$evals Pd evaluations with lb = ub")
    val run2 = Walk.genericReject(smallGraph, starts, maxSteps = 4, cfg,
      upper = 1.0, lower = 1.0, seed = 17).collect().map(_.toString).sorted
    assert(run1.sameElements(run2))
  }

  test("genericReject: zero-dynamic-mass positions die via the bounded exact fallback") {
    val cfg = Walk.TransitionConfig(dynamic = Some((_, _, _, _) => 0.0))
    val starts = Walk.equalStarts(smallGraph, 20)
    val fp = Walk.genericReject(smallGraph, starts, maxSteps = 5, cfg,
      upper = 1.0, lower = 0.0, maxTrials = 3, seed = 29)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(fp.forall(_._2 == 0), "a walker advanced through zero total mass")
    assert(fp.length == 20)
  }

  /** Generic T5 hooks for the smallGraph outlier battery: Pd = 8.0 on
    * dst % 16 == 0 (vertices 0 and 16), 1.0 elsewhere; with upper = 1.0
    * the overflow mass (Pd − ub)·Ps = 7·w rides the appendix, so the
    * bound hook declares ovf = 7 · max outlier weight at the position. */
  private def outlierPd: (Int, Long, Long, Double) => Double =
    (_, _, dst, _) => if (dst % 16 == 0) 8.0 else 1.0
  private def outlierHooks(ovfScale: Double) = Walk.OutlierConfig(
    bound = (_, _, nbrs, wts) => {
      var ovf = 0.0; var num = 0; var i = 0
      while (i < nbrs.size) {
        if (nbrs(i) % 16 == 0) { num += 1; ovf = math.max(ovf, ovfScale * wts(i)) }
        i += 1
      }
      (ovf, num)
    },
    search = (_, _, nbrs, _, k) => {
      var seen = -1; var i = 0; var at = -1
      while (i < nbrs.size && at < 0) {
        if (nbrs(i) % 16 == 0) { seen += 1; if (seen == k) at = i }
        i += 1
      }
      at
    })

  test("genericReject outlier appendix (generic T5): Pd overflowing `upper` on declared edges keeps the exact Ps·Pd law") {
    val cfg = Walk.TransitionConfig(dynamic = Some(outlierPd))
    Walk.rejectLog.clear()
    val starts = Walk.equalStarts(smallGraph, 60000)
    val fp = Walk.genericReject(smallGraph, starts, maxSteps = 1, cfg,
      upper = 1.0, lower = 0.5, seed = 31, outliers = Some(outlierHooks(7.0)))
    val edges = collectEdges(smallGraph)
    val adjm =
      edges.groupBy(_._1).view.mapValues(_.map(e => e._2 -> e._3).toMap).toMap
    val hops = Walk.paths(fp).collect().map(r => r.getSeq[Long](1))
      .filter(_.size == 2).groupBy(_.head)
    var sqErr = 0.0; var cases = 0
    for ((v0, ps) <- hops if ps.length >= 300) {
      val biased = adjm(v0).map { case (c, w) => c -> w * outlierPd(0, v0, c, w) }
      val tot = biased.values.sum
      val counts = ps.groupBy(_(1)).view.mapValues(_.length).toMap
      assert(counts.keySet.subsetOf(adjm(v0).keySet))
      for ((c, bw) <- biased) {
        val gotP = counts.getOrElse(c, 0).toDouble / ps.length
        sqErr += math.pow(gotP - bw / tot, 2); cases += 1
      }
    }
    assert(cases > 50, s"only $cases cases with enough samples")
    assert(sqErr / cases < 0.001, s"mean sqErr ${sqErr / cases}")
    // the appendix actually carried trials (log slot 2 = appendix count
    // for the first-order engine)
    var app = 0L
    val its = Walk.rejectLog.iterator()
    while (its.hasNext) app += its.next()._2
    assert(app > 0, "appendix never hit despite overflowing outliers")
  }

  test("genericReject outliers fail loudly when the declared overflow bound is too small") {
    val cfg = Walk.TransitionConfig(dynamic = Some(outlierPd))
    val starts = Walk.equalStarts(smallGraph, 20000)
    val e = intercept[Exception] {
      // ovfScale 3.5 < the needed 7.0: any appendix evaluation of the
      // max-weight outlier violates (Pd − upper)·Ps <= ovf
      Walk.genericReject(smallGraph, starts, maxSteps = 1, cfg,
        upper = 1.0, lower = 0.5, seed = 37,
        outliers = Some(outlierHooks(3.5))).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("outlier overflow")))
  }

  test("genericReject portable mode: md5 streams are deterministic and both decision paths fire") {
    val pd: (Int, Long, Long, Double) => Double =
      (_, _, dst, _) => if (dst % 2 == 0) 2.0 else 0.5
    val cfg = Walk.TransitionConfig(dynamic = Some(pd))
    Walk.rejectLog.clear()
    val starts = Walk.equalStarts(smallGraph, 300)
    def run() = Walk.genericReject(smallGraph, starts, maxSteps = 4, cfg,
      upper = 2.0, lower = 0.5, maxTrials = 8, seed = 42, portableRng = true)
      .collect().map(_.toString).sorted
    val r1 = run()
    var pre = 0L; var evals = 0L
    val its = Walk.rejectLog.iterator()
    while (its.hasNext) { val e = its.next(); pre += e._1; evals += e._3 }
    assert(pre > 0, "portable lb stream never pre-accepted")
    assert(evals > 0, "portable accept stream never reached a Pd evaluation")
    assert(r1.sameElements(run()), "portable md5 streams are not deterministic")
  }

  test("genericReject fails loudly when the user Pd violates its declared bounds") {
    val cfg = Walk.TransitionConfig(dynamic = Some((_, _, _, _) => 3.0))
    val starts = Walk.equalStarts(smallGraph, 50)
    val e = intercept[Exception] {
      Walk.genericReject(smallGraph, starts, maxSteps = 3, cfg,
        upper = 1.0, lower = 0.0, seed = 3).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("outside declared bounds")))
  }

  test("genericRejectEpoched == one big rejection run (bitwise)") {
    import org.apache.spark.sql.functions.col
    val pd: (Int, Long, Long, Double) => Double =
      (_, _, dst, _) => if (dst % 2 == 0) 2.0 else 0.5
    val cfg = Walk.TransitionConfig(dynamic = Some(pd))
    val one = Walk.genericReject(smallGraph, Walk.equalStarts(smallGraph, 60),
        maxSteps = 4, cfg, upper = 2.0, lower = 0.5, seed = 59)
      .orderBy("walkerId", "step").collect().toSeq
    def startsFor(b: Long, e: Long) =
      Walk.equalStarts(smallGraph, 60)
        .filter(col("walkerId") >= b && col("walkerId") < e)
    val epoched = Walk.epoched(spark, 60, epochs = 3) { case (b, e) =>
        Walk.genericReject(smallGraph, startsFor(b, e), maxSteps = 4, cfg,
          upper = 2.0, lower = 0.5, seed = 59)
      }
      .orderBy("walkerId", "step").collect().toSeq
    assert(epoched === one)
  }

  test("genericStatefulReject: state-conditional law matches the exact stateful engine's analytic distribution") {
    // bias reads the walker's typed state: walkers carry a FIXED state
    // wid % 4 (update = identity), bias = 2.0 when (state ^ dst) is even
    // else 0.5 — per (state, v0) the analytic law is known in closed form
    val cfg = Walk.StatefulConfig[Long](
      init = (wid, _) => wid % 4,
      bias = (_, state, _, dst, _, _) =>
        if (((state ^ dst) & 1L) == 0L) 2.0 else 0.5,
      update = (state, _, _, _) => state)
    Walk.rejectLog.clear()
    val starts = Walk.equalStarts(smallGraph, 60000)
    val fp = Walk.genericStatefulReject(smallGraph, starts, maxSteps = 1, cfg,
      upper = 2.0, lower = 0.5, seed = 53)
    val edges = collectEdges(smallGraph)
    val adjm =
      edges.groupBy(_._1).view.mapValues(_.map(e => e._2 -> e._3).toMap).toMap
    val rows = fp.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2)))
    val hops = rows.filter(_._2 == 1)
      .groupBy { case (wid, _, _) =>
        (wid % 4, rows.find(r => r._1 == wid && r._2 == 0).get._3) }
    var sqErr = 0.0; var cases = 0
    for (((state, v0), ps) <- hops if ps.length >= 300) {
      val biased = adjm(v0).map { case (c, w) =>
        c -> w * (if (((state ^ c) & 1L) == 0L) 2.0 else 0.5) }
      val tot = biased.values.sum
      val counts = ps.groupBy(_._3).view.mapValues(_.length).toMap
      assert(counts.keySet.subsetOf(adjm(v0).keySet))
      for ((c, bw) <- biased) {
        val gotP = counts.getOrElse(c, 0).toDouble / ps.length
        sqErr += math.pow(gotP - bw / tot, 2); cases += 1
      }
    }
    assert(cases > 50, s"only $cases cases with enough samples")
    assert(sqErr / cases < 0.001, s"mean sqErr ${sqErr / cases}")
    // rejection really ran: lb pre-accepts and bias evaluations both fired
    var pre = 0L; var evals = 0L
    val its = Walk.rejectLog.iterator()
    while (its.hasNext) { val e = its.next(); pre += e._1; evals += e._3 }
    assert(pre > 0, "lower bound never pre-accepted")
    assert(evals > 0, "state-reading bias never evaluated")
  }

  test("genericStatefulReject: lb = ub evaluates ZERO bias calls and is deterministic") {
    val cfg = Walk.StatefulConfig[Long](
      init = (wid, _) => wid,
      bias = (_, _, _, _, _, _) => 1.0,
      update = (state, _, _, nxt) => state * 31L + nxt)
    Walk.rejectLog.clear()
    val starts = Walk.equalStarts(smallGraph, 400)
    def run() = Walk.genericStatefulReject(smallGraph, starts, maxSteps = 4,
      cfg, upper = 1.0, lower = 1.0, seed = 19).collect()
      .map(_.toString).sorted
    val r1 = run()
    var evals = 0L
    val its = Walk.rejectLog.iterator()
    while (its.hasNext) evals += its.next()._3
    assert(evals == 0, s"$evals bias evaluations with lb = ub")
    assert(r1.sameElements(run()))
  }

  test("genericStatefulReject fails loudly when the bias violates its declared bounds") {
    val cfg = Walk.StatefulConfig[Long](
      init = (wid, _) => wid,
      bias = (_, _, _, _, _, _) => 3.0,
      update = (state, _, _, _) => state)
    val starts = Walk.equalStarts(smallGraph, 50)
    val e = intercept[Exception] {
      Walk.genericStatefulReject(smallGraph, starts, maxSteps = 3, cfg,
        upper = 1.0, lower = 0.0, seed = 3).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("outside declared bounds")))
  }

  test("p=q=1 collapses to the first-order law (every dart pre-accepts at lb = ub)") {
    Walk.rejectLog.clear()
    // sink-free graph (ring ∪ random chords): every walker must survive
    // to maxSteps in BOTH engines, so the step structure is comparable
    import org.apache.spark.sql.functions.min
    val ring = (0L until 30L).map(v => (v, (v + 1) % 30, 1.0))
      .toDF("src", "dst", "weight")
    val strong = smallGraph.unionAll(ring)
      .groupBy("src", "dst").agg(min("weight").as("weight"))
    val starts = Walk.equalStarts(strong, 2000)
    val rej = Walk.node2vecReject(strong, starts, maxSteps = 5,
      p = 1.0, q = 1.0, seed = 11)
    // lb = ub = 1 ⇒ u ≤ lb always: zero rejections, zero membership joins
    val its = Walk.rejectLog.iterator()
    var joined = 0L
    while (its.hasNext) joined += its.next()._3
    assert(joined == 0, s"$joined membership joins with lb = ub")
    // same termination/step structure as the exact engine on the same walk
    val exact = Walk.node2vec(strong, starts, maxSteps = 5,
      p = 1.0, q = 1.0, seed = 11)
    assert(rej.groupBy("step").count().orderBy("step").collect().toSeq ==
      exact.groupBy("step").count().orderBy("step").collect().toSeq)
  }
}
