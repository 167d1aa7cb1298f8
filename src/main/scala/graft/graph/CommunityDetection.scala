package graft.graph

import org.apache.spark.graphx._

/** G3: score-attenuated label propagation (Leung et al. 2009, "Towards
  * real-time community detection in large networks" — the algorithm
  * behind Flink Gelly's CommunityDetection library, which the reference
  * invokes at ScipiBatchCommunity.java:210 with iterations=10,
  * delta=0.5).
  *
  * Semantics implemented (Gelly-compatible):
  *  - vertex state (label: Long, score: Double), seeded label = vertex
  *    id (unique), score = 1.0;
  *  - each superstep a vertex sends (label, score × edgeWeight) to every
  *    neighbor (both directions — the reference graph is logically
  *    undirected);
  *  - a vertex aggregates received scores per label, adopts the argmax
  *    label (ties broken toward the smaller label for determinism), and
  *    attenuates: newScore = maxAggScore − delta/2;
  *  - runs exactly `iterations` supersteps (fixed-point not required —
  *    matches Gelly's IterationConfiguration).
  *
  * `graphx.lib.LabelPropagation` is NOT this algorithm (no score, no
  * attenuation) — hence the custom Pregel.
  *
  * Scale: Pregel here is iterative aggregateMessages — per superstep one
  * shuffle of (label, score) pairs, O(E) messages. EdgePartition2D on
  * the input graph bounds replication to 2√P copies per vertex.
  */
object CommunityDetection {

  /** Per-vertex aggregated (label → summed score) as parallel primitive
    * arrays sorted by label. Replaces the round-1 immutable
    * `Map[Long, Double]` messages whose per-merge `updated`/`foldLeft`
    * churn allocated a fresh tree node per received score — at O(E)
    * messages per superstep GC, not shuffle, became the wall. A merge
    * here allocates exactly two primitive arrays (no boxing, no nodes)
    * and the label count is bounded by the vertex degree. */
  final class LabelScores(val labels: Array[Long], val scores: Array[Double])
    extends Serializable

  private val empty = new LabelScores(Array.emptyLongArray, Array.emptyDoubleArray)

  def run(
      graph: Graph[Long, Double],
      iterations: Int = 10,
      delta: Double = 0.5): Graph[Long, Double] = {

    // state: (label, score)
    val seeded: Graph[(Long, Double), Double] =
      graph.mapVertices((id, _) => (id, 1.0))

    def vprog(id: VertexId, state: (Long, Double), msgs: LabelScores): (Long, Double) =
      if (msgs.labels.isEmpty) state
      else {
        // argmax score, ties to the smaller label: labels are sorted
        // ascending, so a strict `>` scan lands on the smallest winner.
        var bi = 0
        var i = 1
        while (i < msgs.labels.length) {
          if (msgs.scores(i) > msgs.scores(bi)) bi = i
          i += 1
        }
        (msgs.labels(bi), msgs.scores(bi) - delta / 2.0)
      }

    def sendMsg(t: EdgeTriplet[(Long, Double), Double]): Iterator[(VertexId, LabelScores)] = {
      val (sl, ss) = t.srcAttr
      val (dl, ds) = t.dstAttr
      Iterator(
        (t.dstId, new LabelScores(Array(sl), Array(ss * t.attr))),
        (t.srcId, new LabelScores(Array(dl), Array(ds * t.attr))))
    }

    /** Merge-join of two label-sorted message sets, summing scores of
      * equal labels. */
    def merge(a: LabelScores, b: LabelScores): LabelScores = {
      if (a.labels.isEmpty) return b
      if (b.labels.isEmpty) return a
      val la = a.labels; val sa = a.scores
      val lb = b.labels; val sb = b.scores
      val outL = new Array[Long](la.length + lb.length)
      val outS = new Array[Double](la.length + lb.length)
      var i = 0; var j = 0; var k = 0
      while (i < la.length && j < lb.length) {
        if (la(i) < lb(j)) { outL(k) = la(i); outS(k) = sa(i); i += 1 }
        else if (la(i) > lb(j)) { outL(k) = lb(j); outS(k) = sb(j); j += 1 }
        else { outL(k) = la(i); outS(k) = sa(i) + sb(j); i += 1; j += 1 }
        k += 1
      }
      while (i < la.length) { outL(k) = la(i); outS(k) = sa(i); i += 1; k += 1 }
      while (j < lb.length) { outL(k) = lb(j); outS(k) = sb(j); j += 1; k += 1 }
      if (k == outL.length) new LabelScores(outL, outS)
      else new LabelScores(java.util.Arrays.copyOf(outL, k), java.util.Arrays.copyOf(outS, k))
    }

    val result = Pregel(
      seeded, empty,
      maxIterations = iterations,
      activeDirection = EdgeDirection.Either)(vprog, sendMsg, merge)

    result.mapVertices((_, state) => state._1)
  }
}
