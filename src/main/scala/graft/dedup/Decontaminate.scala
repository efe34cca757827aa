package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: find (and drop) corpus documents sharing
  * character n-gram shingles with a PROBE set — the eval/test-set
  * overlap screen every LLM training-data pipeline runs before
  * training, so benchmark text cannot leak into the training corpus.
  * Reference framing: the same shingle machinery as
  * [[Dedup.ngramJaccard]], but asymmetric — a huge corpus against a
  * small probe set — which changes the scale shape entirely.
  *
  * Shape at 100 TB (the corpus NEVER shuffles):
  *
  *  1. the probe shingle-hash set (benchmarks: thousands of docs, not
  *     billions) is built once and summarized into a driver-held Bloom
  *     filter — one map-side-combined aggregate over the small side;
  *  2. tier 1 is a narrow codegen scan of the corpus: one fused
  *     `ngram_hashes` evaluation per document probed by
  *     [[graft.functions.BloomAny]] (whole-stage codegen, filter
  *     deserialized once). NO FALSE NEGATIVES: a miss PROVES the
  *     document shares no probe shingle, so the overwhelmingly-clean
  *     corpus majority is cleared at scan speed;
  *  3. only Bloom-flagged documents (true overlaps + the fpp sliver)
  *     explode their shingles into the exact verify join against the
  *     broadcast probe shingle frame, where `n_hits` (DISTINCT shared
  *     shingle hashes) is counted and thresholded by `minHits`.
  *
  * The report is EXACT regardless of filter fpp (the verify join
  * confirms every flag — `DecontaminateSpec` pins bloom-path ==
  * brute-force equality); matching is at shingle-HASH granularity
  * (`pmod(xxhash64(shingle), mod)`, like every sketch tier here), so
  * collisions at the default 2^61 modulus are the usual negligible
  * caveat. Probe docs present verbatim in the corpus are flagged by
  * construction (they share all their own shingles).
  *
  * This is the library's one Bloom-filtered operator, and there the
  * filter is the algorithm: without it every corpus shingle would
  * enter the verify join. The incremental store gates
  * ([[Dedup.exactGate]] and its siblings) have no prefilter — their
  * store anti-join is the whole gate.
  */
object Decontaminate {

  /** Contaminated documents only: `(idCol, n_hits)` where `n_hits` is
    * the number of DISTINCT probe shingle hashes the document contains,
    * already thresholded to `>= minHits`. Empty probe set → empty
    * report (nothing can be contaminated).
    *
    * `n` is the shingle width in characters — wide enough that a match
    * means shared phrasing, not a shared word (the classic screens use
    * 8-13 word tokens; ~30 chars is the same order). `expectedProbeShingles`
    * sizes the Bloom filter (8 bits/item ≈ 2% fpp — fpp only costs
    * spurious verify work, never correctness).
    */
  def contaminationReport(docs: DataFrame, idCol: String, textCol: String,
                          probes: DataFrame, probeTextCol: String,
                          n: Int = 30, mod: Long = 1L << 61,
                          minHits: Long = 1L,
                          expectedProbeShingles: Long = 1L << 20,
                          bitsPerItem: Int = 8): DataFrame = {
    val s = docs.sparkSession
    // distinct probe shingle hashes: small, reused by the filter build
    // and the verify join. persist, NOT localCheckpoint: the cache
    // fills inside the Bloom-build action below instead of spending a
    // dedicated eager job (the ngramJaccard lesson; shingling is
    // deterministic, so recompute-on-eviction is safe)
    val probeSh = probes
      .select(explode(graft.functions.Texts
        .ngramHashes(col(probeTextCol), n, mod)).as("__h"))
      .distinct()
      .persist()
    val bf = Option(probeSh
      .agg(graft.functions.Blooms.bloomAgg(col("__h"),
        expectedProbeShingles, expectedProbeShingles * bitsPerItem).as("bf"))
      .head().getAs[Array[Byte]]("bf"))
    bf match {
      case None => // no probes: empty report, same schema
        docs.select(col(idCol), lit(0L).as("n_hits")).limit(0)
      case Some(filter) =>
        val sh = graft.functions.Texts.ngramHashes(col(textCol), n, mod)
        docs
          // tier-1 narrow scan via the FUSED probe (r13): the composed
          // bloom_any(ngram_hashes(...)) boxed one Long per character
          // of the corpus into a GenericArrayData only to unbox it in
          // the probe loop — ngram_bloom_any hashes and probes span by
          // span with zero allocation. Flagged docs re-evaluate `sh`
          // in the explode below — recompute-for-the-few beats caching
          // a corpus-sized shingle column for the many
          .filter(graft.functions.Texts
            .ngramBloomAny(lit(filter), col(textCol), n, mod))
          // per-row array_distinct makes (id, __h) unique by
          // construction (probeSh is distinct too), so the hit count is
          // a plain count — not a countDistinct, whose two-phase
          // distinct aggregate would cost an extra exchange
          .select(col(idCol), explode(array_distinct(sh)).as("__h"))
          .join(broadcast(probeSh), "__h")
          .groupBy(col(idCol))
          .agg(count(lit(1)).as("n_hits"))
          .filter(col("n_hits") >= minHits)
    }
  }

  /** The clean corpus: `docs` minus every document
    * [[contaminationReport]] flags. All original columns pass through;
    * the anti-join key is the (small) contaminated id set, broadcast in
    * practice by AQE.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    probes: DataFrame, probeTextCol: String,
                    n: Int = 30, mod: Long = 1L << 61,
                    minHits: Long = 1L,
                    expectedProbeShingles: Long = 1L << 20,
                    bitsPerItem: Int = 8): DataFrame =
    docs.join(
      contaminationReport(docs, idCol, textCol, probes, probeTextCol,
        n, mod, minHits, expectedProbeShingles, bitsPerItem)
        .select(col(idCol)),
      Seq(idCol), "left_anti")
}
