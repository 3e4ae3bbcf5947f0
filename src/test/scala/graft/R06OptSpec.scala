package graft

import org.apache.spark.sql.functions._
import graft.algo.PageRank
import graft.engine.Iterate
import graft.walk.Walk

/** Focused tests for the round-6 optimization internals: both sides of
  * every new adaptive branch must produce identical results.
  */
class R06OptSpec extends SparkSpec {

  private def fpSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
    df.select("walkerId", "step", "vertex").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  /** The chained driver with the tail's probe row cap set. */
  private def tailRun[W, A <: graft.model.CsrRow](fam: Walk.ChainedFamily[W, A],
      g: org.apache.spark.sql.DataFrame, starts: org.apache.spark.sql.DataFrame,
      maxSteps: Int, cap: Int, buckets: Int = 0, tailThreshold: Long = 4096) =
    Walk.runChained(fam, g, starts, maxSteps, buckets, tailThreshold,
      store = None, runName = "tail", probeRowCap = cap)

  test("driver tail: full-CSR probe and vertex-pruned fallback are bitwise-identical") {
    val g = randomEdges(300, 1500, seed = 906)
    val starts = Walk.equalStarts(g, 120)
    // tailThreshold 4096 > 120 walkers: the WHOLE walk runs driver-side
    val full = tailRun(new Walk.FirstOrderChain(1.0, 42L), g, starts, 8, Walk.TailProbeRowCap)
    // cap 0: the CSR's row count exceeds it, so the probe is skipped
    val fallback = tailRun(new Walk.FirstOrderChain(1.0, 42L), g, starts, 8, cap = 0)
    assert(fpSet(fallback.footprints) == fpSet(full.footprints))
    assert(fpSet(full.footprints).nonEmpty)
  }

  test("driver tail: a probe cap of 0 collects no CSR rows, footprints bitwise-equal") {
    // node2vec on a hub + ring, crosserCap 1, 8 buckets: cogroup rounds
    // run until at most 150 walkers cross, then the tail takes crossers
    // that carry no prevNbrs and must fetch their prev vertex too
    import spark.implicits._
    val star = (1L to 99L).flatMap(i => Seq((0L, i, 1.0), (i, 0L, 1.0)))
    val ring = (1L until 99L).map(i => (i, i + 1, 2.0)) :+ ((99L, 1L, 2.0))
    val g = (star ++ ring).toDF("src", "dst", "weight")
    val starts = Walk.equalStarts(g, 400)
    val fam = new Walk.Node2vecChain(2.0, 0.5, 107L, crosserCap = 1)
    def run(cap: Int) = tailRun(fam, g, starts, 8, cap, buckets = 8, tailThreshold = 150)
    val full = run(Walk.TailProbeRowCap)
    val capped = run(0)
    val (tFull, tCapped) = (full.tail.get, capped.tail.get)
    // the probe held the whole CSR (100 vertices) in one fetch
    assert(tFull.probeRows === 100 && tFull.fetches === 1)
    assert(tCapped.probeRows === 0 && tCapped.fetches > 1)
    assert(tCapped.footprints === tFull.footprints)
    assert(fpSet(capped.footprints) == fpSet(full.footprints))
    assert(fpSet(full.footprints).nonEmpty)
  }

  test("pagerank: durable resume (observation lost) matches an uninterrupted run") {
    val g = randomEdges(200, 900, seed = 907)
    def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap

    val uninterrupted = ranks(PageRank.run(g, fixedIter = Some(4)))

    val dir = java.nio.file.Files.createTempDirectory("r06-pr-resume-").toString
    val store = new Iterate.CheckpointStore(dir, spark)
    // stage 1: two iterations, durable
    PageRank.run(g, fixedIter = Some(2), store = Some(store)).count()
    // stage 2: resume at iter 2 — r0's dangling observation never ran in
    // this invocation, so the first resumed step takes the re-aggregation
    // fallback; ranks after 4 total iterations must match exactly — the
    // fallback re-sums the same rows with the same exact decimal sum
    val resumed = ranks(PageRank.run(g, fixedIter = Some(4), store = Some(store)))
    assert(resumed == uninterrupted)
  }

  test("minhash signature UDF matches the column-pipeline definition value-for-value") {
    import spark.implicits._
    // texts exercising the Spark-semantics corners: multi-space runs,
    // leading/trailing spaces, tabs/newlines, uppercase, short docs
    // (< n tokens), repeated shingles, and a non-ASCII char
    val texts = Seq(
      "The quick brown fox jumps over the lazy dog",
      "  leading and trailing  ",
      "tabs\tand\nnewlines here and here and here",
      "a b",
      "dup dup dup dup dup dup",
      "Ünïcode Mixed CASE tokens ünïcode mixed case tokens",
      "one-token",
      "x y z x y z x y z w")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val k = 64
    val fam = graft.text.TextOps.hashFamily(k)
    val P = graft.text.TextOps.HashP
    // reference: the pre-r6 column pipeline, inlined
    val sh = docs.select(col("doc_id"),
      transform(array_distinct(graft.text.TextOps.shingles(col("text"), 3)),
        s => pmod(graft.text.TextOps.h64(s), lit(P))).as("th"))
    val refSig = array(fam.map { case (a, b) =>
      array_min(transform(col("th"), t => pmod(t * a + b, lit(P))))
    }: _*)
    val ref = sh.select(col("doc_id"), refSig.as("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toMap
    val got = graft.text.TextOps.minhashSignatures(docs, k, 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toMap
    assert(got == ref)
  }

  test("chained cogroup keeps CSR-side exchange out of the round plan") {
    // structural check of the r6 co-partitioning: replicate the kernels'
    // cogroup shape (relational bucket grouping over the MATERIALIZED
    // cache — the builder's count() ordering is load-bearing: AQE only
    // publishes the cached partitioning once the cache is built) and
    // assert the physical plan holds exactly ONE shuffle — the walker
    // side. AQE is disabled for the probe query only, so the plan is
    // inspectable; EnsureRequirements' partitioning-reuse decision is
    // the same either way.
    import spark.implicits._
    val g = randomEdges(200, 800, seed = 908)
    Walk.releaseCaches()
    try {
      val adj = graft.graph.GraphOps.bucketedAdjacencyCached(g, rangeSize = 16L)
      graft.engine.Conf.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
        val kv = adj.select(col("bucket").as("_1"), col("adj").as("_2"))
          .groupBy(col("_1").as("value"))
          .as[Long, (Long, graft.model.AdjRow)]
        val frontier = Seq((1L, 0, 5L), (2L, 0, 17L)).toDS().groupByKey(_._3 / 16L)
        val out = frontier.cogroup(kv)((_, _, _) => Iterator.empty[Int])
        val exchanges = out.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
        assert(exchanges.size == 1,
          s"only the walker side may shuffle, got ${exchanges.size}:\n" +
            out.queryExecution.executedPlan.toString)
      }
    } finally Walk.releaseCaches()
  }
}
