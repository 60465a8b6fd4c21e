package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.agg.BloomSketch

/** Explicit Bloom runtime-filter join pruning — the build-side filter the
  * reference gets implicitly from Flink's hash-join build side and Spark
  * gets (sometimes) from AQE's `InjectRuntimeFilter`: at 100 TB the fact
  * shuffle dominates a selective fact⋈dim join, and dropping rows that
  * cannot match BEFORE the exchange cuts the shuffle to
  * ~(selectivity + fpp) of the scan. Making the pattern explicit (rather
  * than trusting the injection heuristics) guarantees the prune fires,
  * lets the filter size be chosen from the known dim cardinality, and —
  * because [[graft.agg.BloomSketch]] filters are deterministic bytes —
  * lets the same filter be persisted and reused across queries against an
  * unchanged dim snapshot.
  *
  * Plan shape: dim agg → ONE-ROW driver fetch of the bitset → a
  * `bloom_might_contain` Filter with the bitset as a BinaryType literal,
  * directly over the fact scan, BELOW the join's exchange → exact join.
  * False positives are removed by the exact join; false negatives are
  * impossible; the result is exactly the un-pruned join's.
  *
  * r16: the bitset used to arrive via a one-row broadcast
  * crossJoin — but a BroadcastNestedLoopJoin COPIES the joined row, so
  * every fact row paid an UnsafeRow write of the full bitset
  * (numBits/8 bytes · |fact| — measured ~11 s for a 128 KB filter over
  * 600k rows at sf0.1, ~77 GB of memcpy, vs ~0.3 s as a literal
  * predicate). The driver fetch is one row of numBits/8 bytes — the
  * same bounded-fetch contract as the q76 probe collect — and the
  * filter now rides whole-stage codegen straight off the scan.
  */
object RuntimeFilter {

  /** `fact` rows whose `factKey` passes a Bloom filter built from
    * `dim(dimKey)`. Purely a pre-filter: keeps all matching rows, plus a
    * ~fpp fraction of non-matching ones.
    *
    * Eager: this call runs a Spark job over `dim` at once (a `head()` of
    * the one-row bitset) before returning, and the returned frame
    * carries that bitset as a literal. It is therefore pinned to the
    * `dim` snapshot read at call time: rows added to `dim` afterwards are
    * not in the filter, and their fact matches are pruned away. Call it
    * again after `dim` changes. */
  def bloomPrune(fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String, numBits: Int, numHashes: Int): DataFrame = {
    BloomSketch.register(fact.sparkSession)
    val bloomBytes = dim.agg(
        BloomSketch.bloomBits(col(dimKey), numBits, numHashes).as("__bloom"))
      .head().getAs[Array[Byte]](0)
    fact.where(BloomSketch.mightContain(lit(bloomBytes), col(factKey)))
  }

  /** Exact left-semi join, Bloom-pruned: semantically identical to
    * `fact.join(dim, fact(factKey) === dim(dimKey), "left_semi")`, with
    * the fact side cut down before the exchange. */
  def bloomSemiJoin(fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String, numBits: Int, numHashes: Int): DataFrame = {
    val pruned = bloomPrune(fact, factKey, dim, dimKey, numBits, numHashes)
    val keys = dim.select(col(dimKey).as("__rk")).distinct()
    pruned.join(keys, pruned(factKey) === col("__rk"), "left_semi")
  }
}
