package graft

import org.apache.spark.sql.functions._
import graft.graph.GraphOps
import graft.walk.Walk

/** Skew handling (salting, degree-weighted partitioning) + walk epoching. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Skewed graph: one hub with 2000 out-edges + background noise. */
  lazy val skewed = {
    val hub = (1L to 2000L).map(d => (0L, d, 1.0))
    val rest = collectEdges(randomEdges(vNum = 300, eNum = 1000, seed = 61))
      .map { case (s, d, w) => (s + 10000L, d + 10000L, w) }
    (hub ++ rest).toDF("src", "dst", "weight").cache()
  }

  test("salted degrees == plain degrees on a skewed graph") {
    val plain = GraphOps.degrees(skewed).collect()
      .map(d => d.v -> ((d.outDeg, d.inDeg, d.outW, d.inW))).toMap
    val salted = GraphOps.saltedDegrees(skewed, salts = 8).collect()
      .map(d => d.v -> ((d.outDeg, d.inDeg, d.outW, d.inW))).toMap
    assert(salted === plain)
    assert(plain(0L)._1 === 2000L)
  }

  test("heavy hitters found by threshold") {
    val hh = GraphOps.heavyHitters(skewed, 100).collect().map(_.getLong(0))
    assert(hh.toSeq === Seq(0L))
  }

  test("degree-weighted partitioning balances load, keeps ranges contiguous") {
    val nParts = 4
    val parts = GraphOps.degreeWeightedPartition(skewed, nParts).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).sortBy(_._1)
    // contiguity: partition ids are non-decreasing in vid order
    assert(parts.map(_._2).sliding(2).forall(p => p.size < 2 || p(0) <= p(1)))
    assert(parts.map(_._2).distinct.sorted.toSeq === (0 until nParts))
    // balance: each partition's load within 2x of the ideal share
    val deg = GraphOps.degrees(skewed).collect().map(d => d.v -> (d.outDeg + 5.0)).toMap
    val loads = parts.groupBy(_._2).view.mapValues(_.map(x => deg(x._1)).sum).toMap
    val ideal = deg.values.sum / nParts
    // the hub vertex alone can exceed a share; all OTHER partitions must
    // be within 2x ideal and the hub partition contains the hub
    val hubPart = parts.find(_._1 == 0L).get._2
    loads.filter(_._1 != hubPart).values.foreach(l => assert(l <= 2 * ideal, s"loads=$loads ideal=$ideal"))
  }

  test("epoched walk == single-run walk (same RNG keyed on absolute walkerId)") {
    val g = randomEdges(vNum = 40, eNum = 200, seed = 71)
    val one = Walk.firstOrder(g, Walk.equalStarts(g, 60), maxSteps = 4)
      .orderBy("walkerId", "step").collect().toSeq
    def startsFor(b: Long, e: Long) =
      Walk.equalStarts(g, 60).filter(col("walkerId") >= b && col("walkerId") < e)
    val epoched = Walk.epoched(spark, 60, epochs = 3) { case (b, e) =>
        Walk.firstOrder(g, startsFor(b, e), maxSteps = 4)
      }
      .orderBy("walkerId", "step").collect().toSeq
    assert(epoched === one)
  }

  test("epoched node2vec == single-run node2vec (second-order state per epoch)") {
    val g = randomEdges(vNum = 40, eNum = 220, seed = 73)
    val one = Walk.node2vec(g, Walk.equalStarts(g, 60), maxSteps = 4, p = 2.0, q = 0.5)
      .orderBy("walkerId", "step").collect().toSeq
    def startsFor(b: Long, e: Long) =
      Walk.equalStarts(g, 60).filter(col("walkerId") >= b && col("walkerId") < e)
    val epoched = Walk.epoched(spark, 60, epochs = 3) { case (b, e) =>
        Walk.node2vec(g, startsFor(b, e), maxSteps = 4, p = 2.0, q = 0.5)
      }
      .orderBy("walkerId", "step").collect().toSeq
    assert(epoched === one)
  }

  test("epoched metapath == single-run metapath (scheme keyed on absolute walkerId)") {
    val g = randomEdges(vNum = 40, eNum = 220, seed = 77)
      .withColumn("etype", pmod(col("src") + col("dst"), lit(2)).cast("int"))
    val schemes = Seq(Seq(Seq(true, false), Seq(true, true)), Seq(Seq(false, true)))
    val one = Walk.metapath(g, Walk.equalStarts(g, 60), schemes, maxSteps = 4)
      .orderBy("walkerId", "step").collect().toSeq
    def startsFor(b: Long, e: Long) =
      Walk.equalStarts(g, 60).filter(col("walkerId") >= b && col("walkerId") < e)
    val epoched = Walk.epoched(spark, 60, epochs = 3) { case (b, e) =>
        Walk.metapath(g, startsFor(b, e), schemes, maxSteps = 4)
      }
      .orderBy("walkerId", "step").collect().toSeq
    assert(epoched === one)
  }

  test("personalized starts cycle through the start-vertex set") {
    val sv = Seq(7L, 13L, 21L).toDF("v")
    val starts = Walk.personalizedStarts(sv, 9).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(starts.values.toSet === Set(7L, 13L, 21L))
    // walker i -> startVertices(i mod 3) under vid order (7,13,21)
    assert(starts(0L) === 7L && starts(1L) === 13L && starts(2L) === 21L)
    assert(starts(3L) === 7L && starts(8L) === 21L)
  }
}
