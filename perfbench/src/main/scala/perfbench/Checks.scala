package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks, run outside the timed region. Each returns None when the
  * output is correct, or Some(reason). The references are independent of
  * the engine and run on the driver, over the collected edge table: a
  * union-find, label propagation, a triangle count and one PageRank power
  * step. */
object Checks {

  /** `df`'s columns `longs` and `doubles` as primitive arrays, one per
    * column and in one row order, collected as one array per partition
    * rather than one Row per record, so the checks add little to the
    * driver's heap. */
  def columns(df: DataFrame, longs: Seq[String], doubles: Seq[String] = Nil)
      : (Array[Array[Long]], Array[Array[Double]]) = {
    val (nl, nd) = (longs.size, doubles.size)
    val parts = df.select(longs.map(col(_).cast("long")) ++ doubles.map(col(_).cast("double")): _*)
      .rdd.mapPartitions { it =>
        val ls = Array.fill(nl)(new mutable.ArrayBuilder.ofLong)
        val ds = Array.fill(nd)(new mutable.ArrayBuilder.ofDouble)
        it.foreach { r =>
          (0 until nl).foreach(i => ls(i) += r.getLong(i))
          (0 until nd).foreach(i => ds(i) += r.getDouble(nl + i))
        }
        Iterator((ls.map(_.result()), ds.map(_.result())))
      }.collect()
    (Array.tabulate(nl)(i => parts.flatMap(_._1(i))), Array.tabulate(nd)(i => parts.flatMap(_._2(i))))
  }

  /** The edge table, collected once per run for the driver-side checks. */
  final class EdgeSet(val src: Array[Long], val dst: Array[Long], val weight: Array[Double]) {
    /** Sorted (src << 32 | dst) keys; vertex ids are dense and < 2^31. */
    val keys: Array[Long] = {
      val k = Array.tabulate(src.length)(i => (src(i) << 32) | dst(i))
      java.util.Arrays.sort(k)
      k
    }
    def has(a: Long, b: Long): Boolean =
      java.util.Arrays.binarySearch(keys, (a << 32) | b) >= 0
    lazy val maxV: Int = math.max(src.max, dst.max).toInt
  }

  object EdgeSet {
    def apply(edges: DataFrame): EdgeSet = {
      val (l, d) = columns(edges, Seq("src", "dst"), Seq("weight"))
      new EdgeSet(l(0), l(1), d(0))
    }
  }

  private def fail(cond: Boolean, why: => String): Option[String] =
    if (cond) None else Some(why)

  /** Converged; ranks sum to 1; and one power step, computed on the driver
    * from the collected edges, moves no rank by more than 10 × tol. */
  def pagerank(ranks: DataFrame, e: EdgeSet, converged: Boolean,
      alpha: Double, tol: Double): Option[String] = {
    if (!converged) return Some("pagerank did not converge")
    val n = e.maxV + 1
    val rank = Array.fill(n)(Double.NaN)
    val (vs, rs) = columns(ranks, Seq("v"), Seq("rank"))
    vs(0).indices.foreach(i => rank(vs(0)(i).toInt) = rs(0)(i))
    val ranked = rank.count(!_.isNaN)
    val total = rank.iterator.filter(!_.isNaN).sum
    if (math.abs(total - 1.0) > 1e-6) return Some(f"pagerank ranks sum to $total%.9f")
    val outW = new Array[Double](n)
    e.src.indices.foreach(i => outW(e.src(i).toInt) += e.weight(i))
    val dangling = (0 until n).iterator.filter(v => !rank(v).isNaN && outW(v) == 0).map(rank).sum
    val contrib = new Array[Double](n)
    e.src.indices.foreach { i =>
      val u = e.src(i).toInt
      contrib(e.dst(i).toInt) += rank(u) * e.weight(i) / outW(u)
    }
    val moved = (0 until n).iterator.filter(v => !rank(v).isNaN).map { v =>
      math.abs((1 - alpha) / ranked + alpha * (contrib(v) + dangling / ranked) - rank(v))
    }.max
    fail(moved <= 10 * tol, f"one power step moves a rank by $moved%.3g (tol $tol)")
  }

  /** Union-find over the undirected edge set: component count. */
  private def components(e: EdgeSet, n: Int, present: Array[Boolean]): Int = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var a = x
      while (parent(a) != a) { parent(a) = parent(parent(a)); a = parent(a) }
      a
    }
    var i = 0
    while (i < e.src.length) {
      val a = find(e.src(i).toInt)
      val b = find(e.dst(i).toInt)
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
      i += 1
    }
    (0 until n).count(v => present(v) && find(v) == v)
  }

  def cc(labels: DataFrame, e: EdgeSet): Option[String] = {
    val n = e.maxV + 1
    val present = new Array[Boolean](n)
    e.src.foreach(v => present(v.toInt) = true)
    e.dst.foreach(v => present(v.toInt) = true)
    val label = Array.fill(n)(-1L)
    val (vc, _) = columns(labels, Seq("v", "comp"))
    vc(0).indices.foreach(i => label(vc(0)(i).toInt) = vc(1)(i))
    if ((0 until n).exists(v => present(v) != (label(v) >= 0)))
      return Some("cc labels do not cover exactly the graph's vertices")
    if (e.src.indices.exists(i => label(e.src(i).toInt) != label(e.dst(i).toInt)))
      return Some("cc labels differ across an edge")
    val minOf = mutable.Map[Long, Int]()
    (0 until n).foreach(v => if (present(v)) minOf(label(v)) = math.min(minOf.getOrElse(label(v), v), v))
    if (minOf.exists { case (l, m) => l != m })
      return Some("a cc label is not the minimum vertex carrying it")
    val uf = components(e, n, present)
    fail(minOf.size == uf, s"cc found ${minOf.size} components, union-find $uf")
  }

  /** Label propagation by the engine's rule, `iters` synchronous rounds
    * over the undirected multigraph (each edge both ways): a vertex takes
    * the label of greatest total weight (cast to long) among its
    * neighbours' labels, ties to the smallest label. */
  def lpa(labels: DataFrame, e: EdgeSet, iters: Int): Option[String] = {
    val n = e.maxV + 1
    val start = new Array[Int](n + 1)
    e.src.indices.foreach { i => start(e.src(i).toInt + 1) += 1; start(e.dst(i).toInt + 1) += 1 }
    (0 until n).foreach(v => start(v + 1) += start(v))
    val nbr = new Array[Int](start(n))
    val wt = new Array[Long](start(n))
    val fill = start.clone()
    e.src.indices.foreach { i =>
      val (a, b, w) = (e.src(i).toInt, e.dst(i).toInt, e.weight(i).toLong)
      nbr(fill(b)) = a; wt(fill(b)) = w; fill(b) += 1
      nbr(fill(a)) = b; wt(fill(a)) = w; fill(a) += 1
    }
    var label = Array.tabulate(n)(_.toLong)
    val byLabel = mutable.HashMap[Long, Long]()
    for (_ <- 1 to iters) {
      val next = label.clone()
      (0 until n).foreach { v =>
        if (start(v + 1) > start(v)) {
          byLabel.clear()
          (start(v) until start(v + 1)).foreach { j =>
            byLabel(label(nbr(j))) = byLabel.getOrElse(label(nbr(j)), 0L) + wt(j)
          }
          next(v) = byLabel.maxBy { case (l, w) => (w, -l) }._1
        }
      }
      label = next
    }
    val got = Array.fill(n)(-1L)
    val (vl, _) = columns(labels, Seq("v", "label"))
    vl(0).indices.foreach(i => got(vl(0)(i).toInt) = vl(1)(i))
    val wrong = (0 until n).count(v => got(v) != (if (start(v + 1) > start(v)) label(v) else -1L))
    fail(wrong == 0, s"lpa labels of $wrong vertices differ from the driver-side rule")
  }

  /** Triangles of the undirected simple graph, oriented low → high id:
    * each {a < b < c} is counted once, as |N+(a) ∩ N+(b)| over a → b. */
  def triangleCount(e: EdgeSet): Long = {
    val n = e.maxV + 1
    val keys = new Array[Long](e.src.length)
    var m = 0
    var i = 0
    while (i < e.src.length) {
      val (a, b) = (math.min(e.src(i), e.dst(i)), math.max(e.src(i), e.dst(i)))
      if (a != b) { keys(m) = (a << 32) | b; m += 1 }
      i += 1
    }
    java.util.Arrays.sort(keys, 0, m)
    val start = new Array[Int](n + 1)
    val nbr = new Array[Int](m)
    var k = 0
    i = 0
    while (i < m) {
      if (i == 0 || keys(i) != keys(i - 1)) {
        start((keys(i) >>> 32).toInt + 1) += 1
        nbr(k) = (keys(i) & 0xffffffffL).toInt
        k += 1
      }
      i += 1
    }
    var v = 0
    while (v < n) { start(v + 1) += start(v); v += 1 }
    var tri = 0L
    var a = 0
    while (a < n) {
      var j = start(a)
      while (j < start(a + 1)) {
        val b = nbr(j)
        var x = j + 1
        var y = start(b)
        while (x < start(a + 1) && y < start(b + 1)) {
          if (nbr(x) < nbr(y)) x += 1
          else if (nbr(x) > nbr(y)) y += 1
          else { tri += 1; x += 1; y += 1 }
        }
        j += 1
      }
      a += 1
    }
    tri
  }

  def triangles(out: DataFrame, e: EdgeSet): Option[String] = {
    val got = out.head().getLong(0)
    val want = triangleCount(e)
    fail(got == want, s"triangle count $got, driver-side count $want")
  }

  /** Every walk starts at step 0, has contiguous steps up to at most
    * `maxSteps`, and moves only along graph edges. Each move from step `s`
    * must also satisfy `follows(walker, s, from, to)`. */
  def walks(fp: DataFrame, e: EdgeSet, nWalkers: Long, maxSteps: Int,
      follows: (Long, Long, Long, Long) => Boolean = (_, _, _, _) => true): Option[String] = {
    val rows = fp.select(col("walkerId"), col("step"), col("vertex"))
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getLong(2)))
      .sortBy(r => (r._1, r._2))
    if (rows.map(_._1).distinct.length != nWalkers)
      return Some(s"walk output has ${rows.map(_._1).distinct.length} walkers, expected $nWalkers")
    var i = 0
    while (i < rows.length) {
      val (w, s, v) = rows(i)
      if (s > maxSteps) return Some(s"walker $w exceeds maxSteps at step $s")
      if (i == 0 || rows(i - 1)._1 != w) {
        if (s != 0) return Some(s"walker $w does not start at step 0")
      } else {
        val (_, ps, pv) = rows(i - 1)
        if (s != ps + 1) return Some(s"walker $w skips from step $ps to $s")
        if (!e.has(pv, v)) return Some(s"walker $w moves along a non-edge $pv -> $v")
        if (!follows(w, ps, pv, v)) return Some(s"walker $w leaves its scheme at step $ps: $pv -> $v")
      }
      i += 1
    }
    None
  }
}
