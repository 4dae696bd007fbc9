package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Final stage of near-duplicate deduplication: candidate pairs (from LSH /
  * cosine blocking) form an undirected graph; connected components give the
  * duplicate clusters, and the minimum doc id in each cluster becomes the
  * canonical representative every member collapses to.
  *
  * Every function returns a lazy frame over one [[ConnectedComponents]]
  * plan step. At run time it resolves a graph of at most
  * [[ConnectedComponents.Cap]] edges by union-find on the driver, and a
  * larger one by distributed min-label propagation with pointer jumping,
  * which scales to billions of edges. */
object Dedup {

  /** (id, component) for every id appearing in `pairs`; component = min id
    * reachable. Under the cap the result is the exact fixpoint; over it the
    * rounds fail if `maxIter` of them do not reach it. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10): DataFrame =
    ConnectedComponents.of(pairs, maxIter)

  /** Incremental duplicate-cluster maintenance — fold a NEW batch's
    * candidate edges (TextDedup.incrementalEstSimPairs' output, i.e. x17's
    * pairs) into an EXISTING labeling without re-pairing the at-rest
    * corpus: components of (old graph ∪ new edges) over the union node
    * set, as (id, comp) with comp = min reachable id.
    *
    * Why this is exact: an (id, comp) labeling IS a component-equivalent
    * star form of the old graph (every member linked to its cluster min —
    * the same argument as TextDedup.bandStarEdges), and component
    * equivalence is preserved under union with the same extra edges, so
    * CC(labels-as-edges ∪ new) == CC(old-edges ∪ new) as a partition —
    * and min-id canonicals depend only on the partition. The label edges
    * are V-sized (not E-sized) and every old cluster enters as a depth-1
    * star, so propagation converges in the rounds the NEW edges need, not
    * the old graph's diameter. Self-rows (id == comp) ride along as
    * self-loops; singleton labelings survive into the output unchanged.
    * DedupSpec pins equality to the from-scratch CC on merge / new-node /
    * untouched-cluster cases plus a randomized fuzz. */
  def incrementalComponents(labels: DataFrame, newEdges: DataFrame): DataFrame =
    connectedComponents(
      labels.select(col("id").as("doc_a"), col("comp").as("doc_b"))
        .unionByName(newEdges.select("doc_a", "doc_b")))

  /** Every document mapped to its canonical id: cluster minimum for members
    * of a duplicate cluster, itself otherwise. `docs` needs a `doc_id`. */
  def canonicalAssignment(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    docs.join(comps, docs("doc_id") === comps("id"), "left")
      .select(docs("doc_id"),
        coalesce(col("comp"), docs("doc_id")).as("canonical_id"))
      .withColumn("is_duplicate", col("canonical_id") =!= col("doc_id"))
  }
}
