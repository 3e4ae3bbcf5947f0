package graft.model

import java.sql.Timestamp

/** Core data model for the graft link-graph engine.
  *
  * Mirrors the reference's abstractions (KnightKing, /root/reference) in
  * Spark-native form — see SURVEY.md §1.3:
  *  - reference `Edge<edge_data_t>` (include/type.hpp:43-62)  → [[EdgeRow]]
  *  - reference CSR `EdgeContainer` (include/graph.hpp:79-96) → [[AdjRow]]
  *    (per-vertex adjacency segment with precomputed alias tables)
  *  - reference `Walker<T>` (include/walk.hpp:31-50)          → [[WalkerRow]]
  *  - reference `Footprint` (include/path.hpp:37-44)          → [[Footprint]]
  *
  * Vertex ids are Long (the reference uses dense uint32; Spark has no
  * unsigned types). Weights are Double (reference: float).
  */

/** One transcript turn — the exact input_hint shape from BASELINE.json. */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: Timestamp)

/** Directed weighted edge. */
final case class EdgeRow(src: Long, dst: Long, weight: Double)

/** Per-vertex degree summary (reference: vertex_in/out_degree arrays,
  * include/graph.hpp:152-156 / 445-459). */
final case class VertexDeg(
    v: Long, outDeg: Long, inDeg: Long, outW: Double, inW: Double)

/** What every per-vertex CSR row shares: its vertex and its neighbour
  * ids, sorted ascending. The bucketed CSR builder and the chained walk
  * driver work on any row flavour through it. */
trait CsrRow {
  def v: Long
  def nbrs: Array[Long]
}

/** Per-vertex adjacency row: the Spark-native CSR block. `nbrs` is sorted
  * ascending (enables array_contains / binary search, cf. reference
  * src/apps/node2vec.hpp:122-125); `prob`/`alias` are the Vose alias table
  * over `wts` (reference include/walk.hpp:538-652) for O(1) weighted
  * sampling. */
final case class AdjRow(
    v: Long,
    nbrs: Array[Long],
    wts: Array[Double],
    prob: Array[Double],
    alias: Array[Int]) extends CsrRow

/** Adjacency row carrying per-edge types for metapath walks (reference
  * src/apps/metascheme.hpp: scheme masks select sub-adjacencies by edge
  * type). No alias table: the per-step mask changes the sampled support,
  * so sampling is masked inverse-CDF, not precomputed alias. */
final case class TypedAdjRow(
    v: Long,
    nbrs: Array[Long],
    wts: Array[Double],
    etypes: Array[Int]) extends CsrRow

/** Adjacency row carrying opaque per-edge user data for the stateful
  * walk engines (reference `edge_data_t`, include/type.hpp:43-62). Like
  * [[TypedAdjRow]] there is no alias table: the user bias changes the
  * sampled support per step, so sampling is filtered inverse-CDF. */
final case class EdataAdjRow(
    v: Long,
    nbrs: Array[Long],
    wts: Array[Double],
    edatas: Array[Long]) extends CsrRow

/** A walker in flight (reference include/walk.hpp:31-50): `prevV` carries
  * second-order state (node2vec's previous_vertex). */
final case class WalkerRow(walkerId: Long, step: Int, curV: Long, prevV: Long)

/** One accepted step of one walker (reference include/path.hpp:37-44). */
final case class Footprint(walkerId: Long, step: Int, vertex: Long)

/** Per-(iteration, partition) lineage/metrics row, appended by the
  * iteration harness (north-rule requirement). */
final case class Lineage(
    runId: String,
    iter: Int,
    partId: Int,
    rows: Long,
    wallMs: Long)
