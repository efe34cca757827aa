package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints ONE JSON line the driver records as
  * BENCH_r{N}.json.
  *
  * The driver records only the last ~2000 characters of the run's
  * output, and sbt prints its own `[success] Total time: ...` line
  * after ours — so the stdout metric line must stay comfortably under
  * that budget or its head gets truncated and the driver can't parse
  * it (this is exactly what voided the official BENCH_r05/r06
  * records). The stdout line therefore uses SHORT query keys (`q45`
  * for `q45_curate_corpus`), 2-3-decimal times, truncated error
  * strings and scalar-only duckdb summaries, and degrades under the
  * budget in PRIORITY order (r22): the catalog per-query medians are
  * what the driver's round-over-round comparator consumes, so they
  * survive longest; the sf1 per-query map, gate rows and stamp scalars
  * drop first. The FULL detail (long names, 4 decimals, per-query
  * duckdb medians) is written to BENCH_LOCAL.json.
  *
  * Credibility rules (each query's number must mean something):
  *  - one untimed warm-up pass (JIT + codegen cache + parquet footers),
  *    reported separately as `warmup_sec`;
  *  - `reps` timed passes (default 3) → per-query MEDIANS, so a single
  *    load spike or GC pause can't masquerade as a regression;
  *  - failures are never timed into the total: they land in an `errors`
  *    field (and stderr) and the query reports -1;
  *  - the DuckDB yardstick times the same oracle SQLs with the same
  *    median-of-reps discipline and is surfaced PER QUERY
  *    (`duckdb_queries`) so the Spark:DuckDB ratio is inspectable
  *    query-by-query, not just in aggregate;
  *  - if a larger-scale dataset is present (`SPARK_GRAFT_SF1_DIR`, or
  *    ./data/sf1 by convention — see graft.tools.ScaleUp), the headline
  *    queries run there too (`sf1` block): the fixed per-job overhead
  *    that dominates at toy scale amortizes away, which is the scaling
  *    story the 100 TB design argues.
  *
  * PLANS.md is regenerated via PlanAudit on every run so the plan audit
  * can never go stale relative to the catalog. The audit runs BEFORE the
  * JSON line is printed: the metric line must be the LAST thing on
  * stdout, because the driver records only a bounded tail of the run's
  * output — in round 5 the audit's log chatter printed after the metric
  * line and pushed it out of the recorded tail entirely.
  */
object Bench {

  /** Headline queries for the larger-scale point, two tiers:
    *
    *  - SCALE-GROWING inputs (lineitem/orders/documents/embeddings,
    *    which ScaleUp replicates): the fact-table aggs and windows
    *    (q12/q06/q50/q51), the dedup pipelines (q37/q38/q45), and the
    *    embedding top-k (q39/q43/q64) — these are the scaling story;
    *  - fixture-capped EQUIVALENT-WORK queries (q36/q49/q57/q58, r10
    *    broadening): their inputs don't grow with SF, but both engines
    *    do identical work on them, so they widen the sf1 plan-quality
    *    ratio's sample beyond three queries — the per-job floor they
    *    carry is the same floor the sf0.1 one-shot ratio pays.
    *
    * The sf1 equivalent-work ratio (spark_oracle_total_sec vs
    * duckdb_oneshot_total_sec) spans q12, q36, q06, q49, q50, q51,
    * q57, q58, q39, q43 — ten queries. Because the fixture-capped
    * members are pure per-job floor (their absolute times are flat
    * from sf0.1 to sf1 while DuckDB answers them in milliseconds),
    * the sf1 block ALSO reports the same ratio restricted to the
    * scale-growing members (`spark_scalegrow_sec` /
    * `duckdb_scalegrow_sec`) — the number that isolates plan quality
    * from the floor the full-set ratio deliberately keeps visible.
    */
  private val headline = Seq("q12_pricing_summary", "q37_minhash_lsh",
    "q45_curate_corpus", "q39_cosine_topk", "q43_cosine_topk_native",
    "q38_simhash", "q64_embedding_neardup",
    "q06_top5_normalized", "q36_ngram_jaccard", "q49_asof_join",
    "q50_percentiles", "q51_rank_topn", "q76_repetition_stats",
    "q77_decontaminate",
    "q57_lsh_bands_fixture", "q58_simhash_bands_fixture",
    "q80_segment_dedup", "q81_pack_chunks", "q82_tfidf_topk",
    "q84_segment_incremental", "q85_mixture_budget",
    // r11: SemDeDup at 10x corpus — the N^2/k within-cell search under
    // a memoized fit (the assignment is an indexing job; see the q83
    // catalog entry). Answer-key oracle, so it never enters the
    // equivalent-work ratios; its absolute sf1 time is the datum.
    "q83_semantic_dedup",
    // r12: stop-segment tier — full documents scan whose df rule was
    // reworked from a skewed h-keyed window to two-phase partial agg +
    // broadcast stop-set (see Segments.dropStopSegments); its cost
    // shape at 10x is exactly what that rework is for.
    "q87_stop_segments",
    // r12: grouped top-k A/B — q51 (window + WindowGroupLimit, sorts
    // every map partition) vs q89 (bounded-buffer aggregate, no sort);
    // identical output and oracle, so the sf1 delta isolates the
    // physical contract.
    "q89_rank_topn_agg",
    // r12: sliding-window chunking — zero-shuffle scan-side row
    // expansion (~10x rows out); its sf1 time is the pure expansion
    // throughput datum. q91 is the leakage-safe split: one h-keyed
    // exchange serving both the rep aggregate and the member join.
    "q90_chunk_overlap", "q91_leakage_safe_split",
    // r12: q92 is the zero-shuffle hashed-classifier scoring scan; q93
    // is the dense-buffer centroid aggregate over the full embeddings
    // table — both pure scan-side cost shapes worth a 10x datum. q94
    // is the k-per-group bounded-buffer sample over the full corpus.
    "q92_quality_classifier", "q93_embedding_centroids",
    "q94_balanced_sample",
    // r13: near-dup-cluster split — the full near-dup tier (signatures,
    // bands, verify, CC) keyed into the split; answer-key oracle, so
    // its sf1 time is an absolute datum like q45's
    "q95_neardup_safe_split",
    // r15: histogram-mediated weighted percentiles — the codegen-count +
    // weighted-fold two-phase shape on a low-cardinality column
    // (l_discount, 11 distinct): the exchange ships ~66 rows for the
    // 60M-row sf1 scan while DuckDB buffers the full column
    "q97_weighted_percentiles",
    // r16: BM25 top-k (memoized narrow tokenize + broadcast df table,
    // one doc-keyed exchange) and PMI bigram lift (recomputed count
    // tables — the memo measured NEGATIVE, see Collocations;
    // minCount prunes before the vocab-keyed joins) — both scan
    // the full documents table; q101 is the int8-quantized cosine scan
    // over the full embeddings table (zero shuffles, 4x scan-byte cut
    // vs the float path it A/Bs against via q43)
    "q99_bm25_topk", "q100_pmi_bigrams", "q101_quantized_cosine_topk",
    // r16: span-level exact-substring dedup — the fused window-hash
    // scan + dup-key exchange + interval union over the full corpus
    // (q103 is NOT a member: its arms are q99/q101, already timed;
    // the fusion itself is O(k) rows); q104 trains + applies the
    // bigram-LM over the full corpus; q105 gates the odd half against
    // the even half's window-hash store (store seeds in the warm-up,
    // timed reps are gate-only — the q84 convention)
    "q102_span_dedup", "q104_least_fluent", "q105_span_incremental",
    // r16: the transfer variant trains on the even half and scores the
    // odd half - same two-tokenize cost shape as q104 with the OOV path
    "q107_fluency_transfer",
    // r17: q108 trains TWO bigram models (en slice + full pool) and
    // double-joins the full candidate stream — the heaviest member of
    // the bigram-LM family; q109 is the sketch-then-verify heavy-hitter
    // pair of full-corpus scans whose exchanges are CAP-bounded (one
    // MG summary per partial buffer, then <=cap verified keys) while
    // the DuckDB oracle hash-aggregates the whole vocabulary; q111 is
    // the grouped twin (one summary per (lang, buffer), per-group
    // verify + window over <= groups*cap rows)
    "q108_dsir_select", "q109_heavy_hitters", "q111_heavy_hitters_by_lang",
    // r18: the q109->q87 composition — heavy-hitter profile (cap-bounded
    // sketch + verify) configuring the stop-token enforcement tail
    // (broadcast flag join + doc-keyed regroup + scan-side rebuild) over
    // the full documents table. q112 is NOT a member: the fixture-sized
    // DSIR collision answer key is a correctness surface with no
    // scale-growing work to time.
    "q113_stop_token_tier")

  /** Headline members whose INPUT rows grow with SF. q36/q57/q58 cap
    * their input (`doc_id < 100/200`) and q49 caps its fact side
    * (`l_orderkey < 2000`, and ScaleUp gives replica rows fresh
    * orderkeys), so those four do identical work at every SF — they
    * widen the equivalent-work sample but measure only the job floor
    * at sf1. The rest scan lineitem/orders/documents/embeddings, which
    * ScaleUp replicates 10x.
    */
  private val scaleGrowing = Set("q12_pricing_summary", "q37_minhash_lsh",
    "q45_curate_corpus", "q39_cosine_topk", "q43_cosine_topk_native",
    "q38_simhash", "q64_embedding_neardup",
    "q06_top5_normalized", "q50_percentiles", "q51_rank_topn",
    "q76_repetition_stats",
    // q77's CORPUS side scales (probes stay the fixed 20 docs): the
    // Bloom-gated scan vs the oracle's full corpus unnest+join is the
    // asymmetry the operator exists for
    "q77_decontaminate",
    // the r10 segment/packing/tfidf tier scans the full documents table
    "q80_segment_dedup", "q81_pack_chunks", "q82_tfidf_topk",
    // q84's batch AND store both scale with the corpus (odd/even split);
    // its oracle recomputes the store-membership set from raw text each
    // rep while Spark reads the pre-seeded bucketed store — the
    // incremental operator's asymmetry, like q77's
    "q84_segment_incremental", "q85_mixture_budget",
    // q83 scans the full embeddings table (cells grow in count, not
    // size, under auto-k — the paper's k ∝ N rule, measured here)
    "q83_semantic_dedup",
    // q87 scans the full documents table; its segment df distribution
    // (boilerplate = hot segments) is the skew the r12 rework targets
    "q87_stop_segments",
    // q89 scans orders⋈customer like its window twin q51 (also a member)
    "q89_rank_topn_agg",
    // q90 expands the full documents table ~10x; q91's exact-cluster
    // split shuffles the full corpus once on the text hash
    "q90_chunk_overlap", "q91_leakage_safe_split",
    // q92 scores every document token; q93 folds every embedding row;
    // q94 streams the full corpus through k-element group buffers
    "q92_quality_classifier", "q93_embedding_centroids",
    "q94_balanced_sample", "q95_neardup_safe_split",
    "q97_weighted_percentiles",
    // q99/q100 tokenize the full documents table (query terms / the
    // minCount threshold stay fixed); q101 scans every embedding row;
    // q102 window-hashes every token of the corpus; q104's model and
    // scoring passes both scale with it; q105's batch AND store halves
    // both scale (odd/even split)
    "q99_bm25_topk", "q100_pmi_bigrams", "q101_quantized_cosine_topk",
    "q102_span_dedup", "q104_least_fluent", "q105_span_incremental",
    "q107_fluency_transfer",
    // q108's two models and candidate stream all scale with the corpus;
    // q109/q111's scans cover every document (cap stays fixed — the
    // sketch state does NOT grow, which is the point); q113's profile
    // scans and rebuild join cover every document too (the stop set
    // stays <= 1/frac rows at any SF)
    "q108_dsir_select", "q109_heavy_hitters", "q111_heavy_hitters_by_lang",
    "q113_stop_token_tier")

  /** Execute a query doing ALL its declared work: materialize every
    * output row (`toRdd` keeps the plan as-is). `.count()` would let
    * Catalyst prune the computed columns and eliminate the final sort —
    * for pure scan-side queries (classifier scoring, chunk slicing,
    * text sketches) that silently times a bare parquet scan while the
    * DuckDB yardstick `fetchall()`s its full result. Symmetric
    * consumption is the whole comparison.
    */
  private def consume(df: org.apache.spark.sql.DataFrame): Unit =
    graft.tools.Timing.materialize(df)

  /** Host-contention stamps (r15): five same-code sessions spread the
    * sf1 full-cut ratio 1.69–2.16× purely environmentally, so every
    * bench record must self-identify a polluted session. Raw loadavg
    * can't do it — the bench's own 32 threads saturate it — so each
    * timed block records FOREIGN CORES: system busy CPU-seconds from
    * /proc/stat minus this JVM's own CPU-seconds, over the block's wall
    * time = how many cores something ELSE was burning while we timed.
    * README's bench section states the accept rule (foreign < 2.0).
    * The implementation lives in [[graft.tools.Timing.withForeignCores]]
    * (r16: ONE copy — the solo tools stamp the same number, and the
    * accept rule compares it across them).
    */
  private def withForeignCores[T](body: => T): (T, Double) =
    graft.tools.Timing.withForeignCores(body)

  private def loadAvg1m(): Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Which degradable parts the size-bounded stdout line carries: the
    * catalog per-query map, the sf1 per-query map, the sf1 gate rows,
    * and the warmup/duckdb/stamp scalars beyond the ratio essentials.
    */
  private[graft] final case class LineShape(catQueries: Boolean,
      sf1Queries: Boolean, gates: Boolean, fullScalars: Boolean)

  /** Stdout line shapes in priority order. The catalog per-query map is
    * the contract item and survives longest; the sf1 per-query map, the
    * gate rows and the scalars drop first. The last shape is the
    * smallest: it drops every degradable part.
    */
  private[graft] val lineShapes: Seq[LineShape] = Seq(
    LineShape(catQueries = true, sf1Queries = true, gates = true, fullScalars = true),
    LineShape(catQueries = true, sf1Queries = false, gates = true, fullScalars = true),
    LineShape(catQueries = true, sf1Queries = false, gates = false, fullScalars = true),
    LineShape(catQueries = true, sf1Queries = false, gates = false, fullScalars = false),
    LineShape(catQueries = false, sf1Queries = false, gates = false, fullScalars = false))

  /** Characters the stdout line may use: only a ~2000-char tail of the
    * run's output is recorded (see the object scaladoc), minus sbt's
    * trailing success line.
    */
  private[graft] val StdoutBudget = 1800

  /** The first shape, in priority order, whose line fits `budget`; when
    * none fits, the shortest line, so an overflow loses as little of
    * the line as possible.
    */
  private[graft] def fitLine(render: LineShape => String, budget: Int): String = {
    val lines = lineShapes.map(render)
    lines.find(_.length <= budget).getOrElse(lines.minBy(_.length))
  }

  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => "\\u%04x".format(c.toInt) // all control chars
      case c => c.toString
    } + "\""

  private[graft] def jobj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")

  private def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "-1" else BigDecimal(d)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  /** 3-decimal variant for the size-bounded stdout line. */
  private def jnum3(d: Double): String =
    if (d.isNaN || d.isInfinite) "-1" else BigDecimal(d)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** 2-decimal variant for the stdout line's PER-QUERY map: with 117
    * catalog members the map is the dominant term of the line length,
    * and 10 ms resolution is inside the documented session band anyway
    * (full 4-decimal medians stay in BENCH_LOCAL.json).
    */
  private def jnum2(d: Double): String =
    if (d.isNaN || d.isInfinite) "-1" else BigDecimal(d)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString

  /** `q45_curate_corpus` → `q45`. Every catalog name is `qNN_...` with a
    * unique number, so the short key stays unambiguous.
    */
  private def shortKey(name: String): String = {
    val i = name.indexOf('_')
    if (i > 0) name.substring(0, i) else name
  }

  /** `reps` timed passes over `names`; per-query medians + error map +
    * per-query foreign-core and GC stamps. The r20 per-QUERY stamps
    * exist so attribution of a moved member is mechanical: two rounds
    * in a row the committed sf1 table swung ±20-40% on members whose
    * same-day solos were flat, and pinning the blame needed a hand-run
    * solo. Each pass is wrapped in `withForeignCores` (two /proc/stat
    * reads, ~microseconds against sub-second members) and a GC-time
    * delta; the values reported per query are the ones PAIRED with the
    * median-time pass, so they describe the pass the time came from. A
    * mover with a hot foreign stamp indicts the HOST; one whose delta
    * sits mostly inside GC indicts the SESSION's heap/block-store
    * state (the same-JVM pressure foreign cores cannot see — the
    * dominant error bar per the r14 attribution); quiet on both
    * indicts the plan.
    */
  /** One timed pass's stamps: wall seconds plus the three session-state
    * indicators attribution needs (timeQueries doc). `stMemMb` is the
    * block store's persistent-RDD MEMORY residency after the pass and
    * `stDiskDeltaMb` its DISK-residency growth during it (r21): the r20
    * verdict's open item was three >2x in-bench movers with quiet
    * foreign/GC stamps — block-store pressure (memo/checkpoint blocks
    * spilling to disk under a pass, or sheer residency squeezing
    * execution memory) is the one same-JVM class those two cannot see.
    */
  private final case class PassStamp(sec: Double, foreign: Double,
      gcSec: Double, stMemMb: Double, stDiskDeltaMb: Double)

  private def timeQueries(spark: SparkSession, sfDir: String,
                          names: Seq[String], reps: Int)
      : (Seq[(String, Double)], Seq[(String, String)],
         Seq[(String, Double)], Seq[(String, Double)],
         Seq[(String, Double)], Seq[(String, Double)]) = {
    val passes = mutable.Map.empty[String, mutable.Buffer[PassStamp]]
    val errors = mutable.LinkedHashMap.empty[String, String]
    for (_ <- 1 to reps; name <- names) {
      try {
        val (_, d0) = graft.tools.Timing.storageBytes(spark)
        val gc0 = graft.tools.Timing.gcSeconds()
        val t0 = System.nanoTime()
        val (_, foreign) = withForeignCores(
          consume(SparkEntry.queries(name)(spark, sfDir)))
        val sec = (System.nanoTime() - t0) / 1e9
        val gcSec = graft.tools.Timing.gcSeconds() - gc0
        val (m1, d1) = graft.tools.Timing.storageBytes(spark)
        passes.getOrElseUpdate(name, mutable.Buffer.empty) +=
          PassStamp(sec, foreign, gcSec, m1 / 1048576.0,
            (d1 - d0) / 1048576.0)
      } catch { case e: Throwable =>
        errors.getOrElseUpdate(name, e.toString.take(300))
        System.err.println(s"[bench] FAILED $name: ${e.toString.take(500)}")
      }
    }
    def medianPass(xs: Seq[PassStamp]): PassStamp =
      if (xs.isEmpty) PassStamp(-1.0, -1.0, -1.0, -1.0, -1.0)
      else {
        val s = xs.sortBy(_.sec)
        // time: the SAME median formula the bench has always used (mean
        // of the middle pair on even sizes) so records stay diffable;
        // foreign/gc/storage: the upper-middle pass's stamps
        s(s.size / 2).copy(sec = median(s.map(_.sec)))
      }
    val byName = names.map(n => n -> medianPass(passes.getOrElse(n, Nil).toSeq))
    (byName.map { case (n, p) => n -> p.sec }, errors.toSeq,
      byName.map { case (n, p) => n -> p.foreign },
      byName.map { case (n, p) => n -> p.gcSec },
      byName.map { case (n, p) => n -> p.stMemMb },
      byName.map { case (n, p) => n -> p.stDiskDeltaMb })
  }

  /** DuckDB yardstick over `oracleNames`'s SQL (best-effort: duckdb lives
    * driver-side only). Returns (total, per-query medians).
    */
  private def duck(sfDir: String, oracleNames: Seq[String], reps: Int)
      : Option[(Double, Seq[(String, Double)])] = try {
    val script = new java.io.File("tools/duckbench.py")
    if (!script.isFile) return None
    val sqls = SparkEntry.oracleSql.filter(kv => oracleNames.contains(kv._1))
    if (sqls.isEmpty) return None
    val tmp = java.nio.file.Files.createTempFile("oracle_sql", ".json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    om.writeValue(tmp.toFile, new java.util.TreeMap[String, String](
      scala.jdk.CollectionConverters.MapHasAsJava(sqls).asJava))
    val out = scala.sys.process.Process(
      Seq("python3", script.getPath, tmp.toString, sfDir, reps.toString)).!!.trim
    java.nio.file.Files.deleteIfExists(tmp)
    val tree = om.readTree(out)
    val per = mutable.Buffer.empty[(String, Double)]
    tree.get("queries").properties().forEach { e =>
      per += e.getKey -> e.getValue.asDouble(-1.0) }
    Some((tree.get("total").asDouble(-1.0), per.toSeq))
  } catch { case e: Throwable =>
    System.err.println(s"[bench] duckdb yardstick unavailable: ${e.toString.take(200)}")
    None
  }

  /** Measures the incremental novelty GATES against store scale: the
    * SAME fixed 1k-doc batch is gated (read-only, the recurring per-day
    * cost) against stores seeded from the sf0.1 corpus (~5k docs) and
    * from the sf1 corpus (~50k docs) — for BOTH the exact hash gate
    * (single-table anti-join), the MinHash band gate (banded two-table
    * store), and (r10) the embedding sign-LSH gate (banded vector
    * store + codegen cosine verify), so the flat-across-store claim is
    * measured for every gate family, not only the hash store. Store seeding and batch
    * signing are one-time corpus builds and run UNTIMED; each timed rep
    * is the gate alone. The design claim this pins with a measurement
    * (IncrementalDedupSpec pins it on the plan): the store sides are
    * bucketed on their join keys and never reshuffle, so per-batch cost
    * scales with the batch — the 10x store should move gate time by
    * roughly its extra co-located scan, not 10x.
    *
    * Every seeded catalog table and tmpdir store path is dropped in the
    * finally block — bench runs must not leak warehouse entries or
    * on-disk stores (r9 ADVICE).
    */
  private def incGateScale(spark: SparkSession, smallDir: String,
                           largeDir: String, reps: Int)
      : Seq[(String, Double)] = {
    val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val tables = mutable.Buffer.empty[String]
    val dirs = mutable.Buffer.empty[java.io.File]
    def storeFor(tag: String): (String, String) = {
      val t = s"graft_bench_gate_${nonce}_$tag"
      val d = new java.io.File(sys.props("java.io.tmpdir"), t)
      dirs += d
      (t, d.getPath)
    }
    def timed(warmAndRep: () => Unit): Double = {
      warmAndRep() // warm
      median((1 to reps).map { _ =>
        val t0 = System.nanoTime()
        warmAndRep()
        (System.nanoTime() - t0) / 1e9
      })
    }
    try {
      def seedExact(tag: String, dir: String): String = {
        val (t, p) = storeFor(tag)
        tables += t
        graft.dedup.Dedup.exactIncremental(
          Tables(spark, dir, "documents"), "doc_id", "text", t, p)
        t
      }
      val small = seedExact("small", smallDir)
      val large = seedExact("large", largeDir)
      val batch = Tables(spark, smallDir, "documents")
        .filter(org.apache.spark.sql.functions.col("doc_id") < 1000)
      def exactSec(table: String): Double = timed(() =>
        graft.dedup.Dedup.exactGate(batch, "doc_id", "text", table).count())

      def seedMinhash(tag: String, dir: String): String = {
        val (t, p) = storeFor(tag)
        tables += s"${t}_bands" += s"${t}_sigs"
        graft.dedup.Dedup.minhashIncremental(
          graft.dedup.Dedup.minhashSignatures(
            Tables(spark, dir, "documents"), "doc_id", "text"),
          "doc_id", t, p, bands = 4, minEstJaccard = 0.9)
        t
      }
      val mhSmall = seedMinhash("mhsmall", smallDir)
      val mhLarge = seedMinhash("mhlarge", largeDir)
      // batch signing is fixture prep, not gate work — materialize once
      val batchSig = graft.dedup.Dedup
        .minhashSignatures(batch, "doc_id", "text").localCheckpoint()
      def mhSec(table: String): Double = timed(() =>
        graft.dedup.Dedup.minhashGate(batchSig, "doc_id", table,
          bands = 4, minEstJaccard = 0.9).count())

      def seedEmb(tag: String, dir: String): String = {
        val (t, p) = storeFor(tag)
        tables += s"${t}_bands" += s"${t}_vecs"
        graft.dedup.Dedup.embeddingIncremental(
          Tables(spark, dir, "embeddings"), "vec_id", "embedding",
          t, p, minCosine = 0.95)
        t
      }
      val embSmall = seedEmb("embsmall", smallDir)
      val embLarge = seedEmb("emblarge", largeDir)
      val vecBatch = Tables(spark, smallDir, "embeddings")
        .filter(org.apache.spark.sql.functions.col("vec_id") < 1000)
        .localCheckpoint()
      def embSec(table: String): Double = timed(() =>
        graft.dedup.Dedup.embeddingGate(vecBatch, "vec_id", "embedding",
          table, minCosine = 0.95).count())

      // r14: the SEGMENT family joins the flat-across-store measurement —
      // the r13 key-rows gate (gateKeptPairs: one-pass codegen hashes,
      // winner aggregate, co-located store probe; text only in the final
      // rebuild join) gated against segment-hash stores seeded from both
      // corpora. Same claim as the other families: the 10x store moves
      // gate time by its extra co-located scan, not 10x.
      def seedSeg(tag: String, dir: String): String = {
        val (t, p) = storeFor(tag)
        tables += t
        graft.ops.Segments.dedupSegmentsIncremental(
          Tables(spark, dir, "documents").select("doc_id", "text"),
          16, t, p)
        t
      }
      val segSmall = seedSeg("segsmall", smallDir)
      val segLarge = seedSeg("seglarge", largeDir)
      def segSec(table: String): Double = timed(() =>
        graft.ops.Segments.segmentGate(batch, 16, table).count())

      // r16: the SPAN family — window-hash store probes (the smallest
      // per-unit store state, 8 bytes/distinct window); the gate is the
      // fused-scan + two one-row-per-key mark joins of
      // SpanDedup.statsIncremental. Methodology caveat: ScaleUp's
      // replica corpus adds no NEW distinct windows, so the
      // distinct-keyed stores (exact/segment/span) are replica-invariant
      // by construction — their small-vs-large datum pins the probe's
      // insensitivity to the batch/store SCAN, while the doc-keyed
      // minhash/embedding stores genuinely grow 10x.
      def seedSpan(tag: String, dir: String): String = {
        val (t, p) = storeFor(tag)
        tables += t
        graft.dedup.SpanDedup.seedSpanStore(
          Tables(spark, dir, "documents").select("doc_id", "text"), 8, t, p)
        t
      }
      val spanSmall = seedSpan("spansmall", smallDir)
      val spanLarge = seedSpan("spanlarge", largeDir)
      def spanSec(table: String): Double = timed(() =>
        graft.dedup.SpanDedup.statsIncremental(batch, 8, table).count())

      // r18: the FLUENCY gate family — the model-based quality gate's
      // store analogue is the persisted MODEL (trained on the small vs
      // large corpus; the large model has ~10x the bigram vocabulary).
      // Model training is untimed seed work like every other family's
      // store build; the timed rep is one full gate batch — fused
      // scoring scan + shuffle_hash join against the CACHED model +
      // replay-idempotent sink write — i.e. the steady-state per-batch
      // cost after fluencyGateEachBatch's first-batch model persist
      // (the warm-up call inside timed() is what loads the cache).
      def seedFlModel(tag: String, dir: String): String = {
        val (_, p) = storeFor(tag)
        graft.text.BigramLm.saveModel(
          graft.text.BigramLm.trainModel(
            Tables(spark, dir, "documents").select("doc_id", "text")), p)
        p
      }
      val flSmall = seedFlModel("flmodelsmall", smallDir)
      val flLarge = seedFlModel("flmodellarge", largeDir)
      val flBatch = batch.select("doc_id", "text").localCheckpoint()
      def flSec(modelPath: String, tag: String): Double = {
        val (_, outP) = storeFor(s"flout_$tag")
        val gate = graft.streaming.StreamingOps.fluencyGateEachBatch(
          "doc_id", "text", modelPath, minFluency = 1000.0, outP)
        try timed(() => gate(flBatch, 0L))
        finally graft.streaming.StreamingOps.uncacheFluencyModel(modelPath)
      }

      Seq("flgate1k_small_store_sec" -> flSec(flSmall, "small"),
        "flgate1k_large_store_sec" -> flSec(flLarge, "large"),
        "incgate1k_small_store_sec" -> exactSec(small),
        "incgate1k_large_store_sec" -> exactSec(large),
        "mhgate1k_small_store_sec" -> mhSec(mhSmall),
        "mhgate1k_large_store_sec" -> mhSec(mhLarge),
        "embgate1k_small_store_sec" -> embSec(embSmall),
        "embgate1k_large_store_sec" -> embSec(embLarge),
        "seggate1k_small_store_sec" -> segSec(segSmall),
        "seggate1k_large_store_sec" -> segSec(segLarge),
        "spangate1k_small_store_sec" -> spanSec(spanSmall),
        "spangate1k_large_store_sec" -> spanSec(spanLarge))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] incremental-gate scale check failed: " +
        e.toString.take(200))
      Nil
    } finally {
      tables.foreach(t => try spark.sql(s"DROP TABLE IF EXISTS $t")
        catch { case _: Throwable => () })
      dirs.foreach(d => try org.apache.commons.io.FileUtils.deleteDirectory(d)
        catch { case _: Throwable => () })
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet uses TIMESTAMP(NANOS); see graft.Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: q115's SQL-function install emits a WARN per
    // re-registered name on every rep, and those can crowd the bounded
    // output tail the driver keeps (the metric line must survive in it).
    spark.sparkContext.setLogLevel("ERROR")

    val names = SparkEntry.queries.keys.toSeq.sorted

    // ambient load BEFORE any engine work — the one point where loadavg
    // still reflects the host, not this bench
    val loadStart = loadAvg1m()

    // untimed warm-up pass (duration reported for transparency)
    val w0 = System.nanoTime()
    names.foreach { n =>
      try consume(SparkEntry.queries(n)(spark, sfDir))
      catch { case _: Throwable => () }
    }
    val warmup = (System.nanoTime() - w0) / 1e9

    val ((medians, errors, foreignByQuery, gcByQuery, stMemByQuery,
      stDiskByQuery), foreignSf01) =
      withForeignCores(timeQueries(spark, sfDir, names, reps))
    val ok = medians.filter(_._2 >= 0)
    val total = ok.map(_._2).sum
    // spark time over ONLY the oracle-checked queries, so the duckdb
    // yardstick compares the same query set (rows-only queries have no
    // duckdb counterpart to time)
    val oracleTotal = ok.collect {
      case (k, v) if SparkEntry.oracleSql.contains(k) => v }.sum
    val duckMain = duck(sfDir, names, reps)
    // Some oracles are ANSWER KEYS, not equivalent computations: q59/q61
    // run multi-round CC against constant-time closed forms, q68-q72 pay
    // per-rep store BUILDS whose oracle models only the final read, and
    // the q60/q64 fixture pins enumerate their expected rows by
    // modular/copy arithmetic instead of computing them from the data.
    // Comparing those measures fixture design, not plan quality — the
    // one-shot ratio excludes them (from BOTH sides) and is reported
    // next to the full ratio. q57/q58 are NOT excluded (r10): their
    // oracle SQL computes the full result from the data — an all-pairs
    // join plus per-pair band-agreement arithmetic, if anything MORE
    // work than the banded Spark path — so comparing them measures plan
    // quality, not enumeration.
    val answerKeyOracles = Set("q59_cc_fixture", "q61_cc_deep_fixture",
      "q75_cc_string_ids", // iterative CC vs the same closed form as q59
      "q68_dedup_incremental", "q69_minhash_incremental",
      "q70_embedding_incremental", "q72_simhash_incremental",
      "q73_dedup_bloom_gate",
      "q60_kmv_fixture", "q64_embedding_neardup",
      // copy-seeded ANN closed forms (r8): real probe work, answer-key SQL
      "q40_ann_lsh", "q62_ann_indexed",
      // r9 closed-form conversions: Spark runs the full sketch/LSH/CC
      // or sketch-rank work, the SQL enumerates seeded survivors (q45's
      // token recompute and q54's window rank do partial real work, but
      // neither runs the dedup/sketch tiers — not an equivalent job)
      "q37_minhash_lsh", "q38_simhash", "q45_curate_corpus",
      "q54_kmv_sample",
      // the codec round trip: the SQL recomputes length/md5 from the
      // SOURCE text — it never runs the deflate/inflate work
      "q71_media_decode",
      // copy-seeded SemDeDup closed form: Spark fits the quantizer and
      // runs the within-cell search, the SQL lists the original table
      "q83_semantic_dedup",
      // r13: copy-seeded split closed form — Spark md5-hashes the full
      // salted text, groups clusters, and joins reps back; the SQL
      // derives each copy's rep by the copy-shift arithmetic (the salt
      // construction is deliberately not SQL-mirrored — see
      // DedupQueries.saltedCopySeeded) and runs in ~50 ms at sf1, a
      // 26x "ratio" that measured fixture enumeration, not plans
      "q91_leakage_safe_split",
      // r13: same class — the SQL enumerates the closed-form cluster
      // structure while Spark runs signatures/LSH/verify/iterative CC
      "q95_neardup_safe_split")
    val oneshotTotal = ok.collect {
      case (k, v) if SparkEntry.oracleSql.contains(k)
        && !answerKeyOracles(k) => v }.sum
    val duckOneshot = duckMain.map(_._2.collect {
      case (k, v) if v >= 0 && !answerKeyOracles(k) => v }.sum)

    // Optional larger-scale point on the headline queries, median-of-3
    // like the main block (override: SPARK_GRAFT_SF1_REPS): at 1 rep a
    // ±15% swing is indistinguishable from noise, which made the r6→r7
    // q45 comparison unattributable. ~29 s/rep keeps 3 reps in budget.
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "data/sf1")
    val sf1Reps = sys.env.getOrElse("SPARK_GRAFT_SF1_REPS", "3").toInt
    // The sf1 block must be measured every round: when the dir is absent
    // (fresh driver environment — the r11 official bench hit this and
    // silently emitted "sf1": null), rebuild it from the bench's own input
    // at 10x via ScaleUp rather than skipping. Opt out with
    // SPARK_GRAFT_SF1_REPS=0 (for quick local iteration).
    if (sf1Reps > 0 && !new java.io.File(sf1Dir).isDirectory) {
      System.err.println(s"[bench] $sf1Dir missing — building at 10x $sfDir")
      try graft.tools.ScaleUp.build(spark, sfDir, sf1Dir, 10)
      catch { case e: Throwable =>
        System.err.println(s"[bench] sf1 rebuild failed: ${e.getMessage}") }
    }
    // The sf0.1 block is DONE: drop its memoized corpus snapshots and
    // scoped checkpoints before the sf1 block so the dead dataset's
    // frames stop occupying the block store while the allocation-heavy
    // sf1 scans run (the r14 solo-vs-in-bench attribution measured this
    // class of resident pressure as the dominant per-query error bar).
    // incGateScale re-reads sfDir from parquet and seeds fresh stores,
    // so it does not depend on anything released here.
    graft.catalog.Catalog.releaseDatasetState(spark, sfDir)
    val sf1 : Option[(Seq[(String, Double)], Seq[(String, String)],
                      Option[(Double, Seq[(String, Double)])],
                      Seq[(String, Double)], Double,
                      Seq[(String, Double)], Seq[(String, Double)],
                      Seq[(String, Double)], Seq[(String, Double)])] =
      if (sf1Reps == 0 || !new java.io.File(sf1Dir).isDirectory) None
      else {
        headline.foreach { n => // warm-up at this scale too
          try consume(SparkEntry.queries(n)(spark, sf1Dir))
          catch { case _: Throwable => () }
        }
        val ((m1, e1, fq1, gq1, sm1, sd1), f1) =
          withForeignCores(timeQueries(spark, sf1Dir, headline, sf1Reps))
        // gate medians are sub-second — stamp their block too, so a
        // drifted gate number can be dismissed (or not) on evidence
        val (g1, fg) =
          withForeignCores(incGateScale(spark, sfDir, sf1Dir, sf1Reps))
        Some((m1, e1, duck(sf1Dir, headline, sf1Reps),
          g1 :+ ("foreign_cores_gates" -> fg), f1, fq1, gq1, sm1, sd1))
      }
    def sf1OracleSec(m1: Seq[(String, Double)]): Double =
      // like-for-like with duckdb_oneshot_total_sec: spark time over
      // ONLY the headline queries whose oracle does equivalent work
      // (answer-key oracles excluded from both sides, as in the main
      // block's one-shot ratio)
      m1.filter(kv => kv._2 >= 0 && SparkEntry.oracleSql.contains(kv._1)
        && !answerKeyOracles(kv._1)).map(_._2).sum
    def sf1DuckOneshot(d1: Option[(Double, Seq[(String, Double)])])
        : Option[Double] =
      d1.map(_._2.collect {
        case (k, v) if v >= 0 && !answerKeyOracles(k) => v }.sum)
    // the scale-growing cut of the same equivalent-work comparison (see
    // the `scaleGrowing` scaladoc): floor-only fixture members excluded
    // from BOTH sides
    def sf1SgSpark(m1: Seq[(String, Double)]): Double =
      m1.filter(kv => kv._2 >= 0 && SparkEntry.oracleSql.contains(kv._1)
        && !answerKeyOracles(kv._1) && scaleGrowing(kv._1)).map(_._2).sum
    def sf1SgDuck(d1: Option[(Double, Seq[(String, Double)])])
        : Option[Double] =
      d1.map(_._2.collect {
        case (k, v) if v >= 0 && !answerKeyOracles(k)
          && scaleGrowing(k) => v }.sum)
    val sf1Full: String = sf1 match {
      case None => "null"
      case Some((m1, e1, d1, g1, f1, fq1, gq1, sm1, sd1)) =>
        jobj(Seq(
          "dir" -> jstr(sf1Dir),
          "queries" -> jobj(m1.map { case (k, v) => k -> jnum(v) }),
          "errors" -> jobj(e1.map { case (k, v) => k -> jstr(v) }),
          "spark_total_sec" -> jnum(m1.filter(_._2 >= 0).map(_._2).sum),
          "spark_oracle_total_sec" -> jnum(sf1OracleSec(m1)),
          "duckdb_oneshot_total_sec" ->
            sf1DuckOneshot(d1).map(jnum).getOrElse("null"),
          "spark_scalegrow_sec" -> jnum(sf1SgSpark(m1)),
          "duckdb_scalegrow_sec" ->
            sf1SgDuck(d1).map(jnum).getOrElse("null"),
          "foreign_cores" -> jnum(f1),
          // r20: the stamp of the pass each member's median came from —
          // a moved member with a hot stamp is session noise, quiet is
          // plan change (VERDICT r19 #7: attribution without a same-day
          // solo rerun)
          "foreign_cores_by_query" ->
            jobj(fq1.map { case (k, v) => k -> jnum(v) }),
          "gc_sec_by_query" ->
            jobj(gq1.map { case (k, v) => k -> jnum(v) }),
          // r21: block-store stamps (PassStamp doc) — the session-state
          // class foreign/GC cannot see
          "storage_mem_mb_by_query" ->
            jobj(sm1.map { case (k, v) => k -> jnum(v) }),
          "storage_disk_delta_mb_by_query" ->
            jobj(sd1.map { case (k, v) => k -> jnum(v) }),
          "duckdb_queries" -> d1.map(d =>
            jobj(d._2.map { case (k, v) => k -> jnum(v) })).getOrElse("null")) ++
          g1.map { case (k, v) => k -> jnum(v) })
    }
    /** The stdout line's sf1 block, with its per-query map and gate rows
      * droppable independently (they are the block's two big terms; the
      * equivalent-work totals always stay).
      */
    def sf1Compact(withQueries: Boolean, withGates: Boolean): String =
      sf1 match {
        case None => "null"
        case Some((m1, e1, d1, g1, f1, _, _, _, _)) =>
          jobj(
            (if (withQueries) Seq("queries" -> jobj(
              m1.map { case (k, v) => shortKey(k) -> jnum3(v) })) else Nil) ++
            Seq(
              "spark_total_sec" -> jnum3(m1.filter(_._2 >= 0).map(_._2).sum),
              "spark_oracle_total_sec" -> jnum3(sf1OracleSec(m1)),
              "duckdb_oneshot_total_sec" ->
                sf1DuckOneshot(d1).map(jnum3).getOrElse("null"),
              "spark_scalegrow_sec" -> jnum3(sf1SgSpark(m1)),
              "duckdb_scalegrow_sec" ->
                sf1SgDuck(d1).map(jnum3).getOrElse("null"),
              "foreign_cores" -> jnum3(f1)) ++
            (if (withGates) g1.map { case (k, v) => k -> jnum3(v) } else Nil) ++
            (if (e1.isEmpty) Nil else Seq("errors" -> jobj(
              e1.map { case (k, v) => shortKey(k) -> jstr(v.take(60)) }))))
      }

    // full-detail record (long names, per-query duckdb medians) — this is
    // what BENCH_LOCAL.json keeps for humans and the judge
    val fullLine = jobj(Seq(
      "metric" -> jstr("total"),
      "value" -> jnum(total),
      "unit" -> jstr("sec"),
      "queries" -> jobj(medians.map { case (k, v) => k -> jnum(v) }),
      "errors" -> jobj(errors.map { case (k, v) => k -> jstr(v) }),
      "reps" -> reps.toString,
      // consumption discipline marker: r12 changed query consumption from
      // `.count()` (which let Catalyst prune computed columns/aggregates)
      // to full materialization — numbers from rounds <= 11 are a
      // DIFFERENT, systematically smaller measurement for scan-side
      // queries and must not be diffed against this field's records.
      "consumption" -> jstr("toRdd-materialize"),
      "warmup_sec" -> jnum(warmup),
      // host-contention record: ambient 1-min loadavg before any engine
      // work, plus foreign-cores during the sf0.1 timed block (the sf1
      // block's stamp lives inside the sf1 object). Accept rule: README.
      "host_load_start" -> jnum(loadStart),
      "foreign_cores_sf01" -> jnum(foreignSf01),
      // r20 per-query stamps (see timeQueries doc): attribution of a
      // moved member without a same-day solo rerun
      "foreign_cores_by_query" ->
        jobj(foreignByQuery.map { case (k, v) => k -> jnum(v) }),
      "gc_sec_by_query" ->
        jobj(gcByQuery.map { case (k, v) => k -> jnum(v) }),
      // r21: block-store stamps (PassStamp doc)
      "storage_mem_mb_by_query" ->
        jobj(stMemByQuery.map { case (k, v) => k -> jnum(v) }),
      "storage_disk_delta_mb_by_query" ->
        jobj(stDiskByQuery.map { case (k, v) => k -> jnum(v) }),
      "spark_total_sec" -> jnum(total),
      "spark_oracle_total_sec" -> jnum(oracleTotal),
      "spark_oracle_oneshot_sec" -> jnum(oneshotTotal),
      "duckdb_oneshot_total_sec" -> duckOneshot.map(jnum).getOrElse("null"),
      "duckdb_total_sec" -> duckMain.map(d => jnum(d._1)).getOrElse("null"),
      "duckdb_queries" -> duckMain.map(d =>
        jobj(d._2.map { case (k, v) => k -> jnum(v) })).getOrElse("null"),
      "sf" -> jstr(sfDir),
      "sf1" -> sf1Full))

    // size-bounded stdout line: short keys, 2-3 decimals, scalar
    // duckdb summaries; it degrades through `lineShapes` (see fitLine).
    // Everything dropped here remains in BENCH_LOCAL.json (full names,
    // 4 decimals, per-query duckdb medians and stamps).
    def compactLine(shape: LineShape): String = jobj(Seq(
      "metric" -> jstr("total"),
      "value" -> jnum3(total),
      "unit" -> jstr("sec")) ++
      (if (shape.catQueries) Seq("queries" -> jobj(
        medians.map { case (k, v) => shortKey(k) -> jnum2(v) })) else Nil) ++
      (if (errors.isEmpty) Nil else Seq("errors" -> jobj(
        errors.map { case (k, v) => shortKey(k) -> jstr(v.take(60)) }))) ++
      Seq("reps" -> reps.toString) ++
      (if (shape.fullScalars) Seq(
        "consumption" -> jstr("toRdd-materialize"),
        "warmup_sec" -> jnum3(warmup),
        "host_load_start" -> jnum3(loadStart),
        "foreign_cores_sf01" -> jnum3(foreignSf01),
        "spark_oracle_total_sec" -> jnum3(oracleTotal),
        "spark_oracle_oneshot_sec" -> jnum3(oneshotTotal),
        "duckdb_oneshot_total_sec" -> duckOneshot.map(jnum3).getOrElse("null"),
        "duckdb_total_sec" -> duckMain.map(d => jnum3(d._1)).getOrElse("null"))
      else Seq(
        // the ratio essentials survive every cut
        "foreign_cores_sf01" -> jnum3(foreignSf01),
        "spark_oracle_total_sec" -> jnum3(oracleTotal),
        "duckdb_oneshot_total_sec" ->
          duckOneshot.map(jnum3).getOrElse("null"))) ++
      Seq(
        "sf" -> jstr(sfDir),
        "sf1" -> sf1Compact(shape.sf1Queries, shape.gates),
        "detail" -> jstr("BENCH_LOCAL.json")))
    val metricLine = fitLine(compactLine, StdoutBudget)

    // regenerate the plan audit with every bench so it cannot go stale;
    // audit at the smallest SF available (plans don't depend on volume)
    try {
      val parent = new java.io.File(sfDir).getParentFile
      val tiny = new java.io.File(parent, "sf0.001")
      graft.tools.PlanAudit.writePlans(spark,
        if (tiny.isDirectory) tiny.getPath else sfDir)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] plan audit failed: ${e.toString.take(200)}")
    }

    // persist the FULL record so the per-query duckdb medians and long
    // names survive independently of the size-bounded stdout line
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_LOCAL.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }

    // the metric line is printed LAST (see scaladoc): nothing may follow
    // it on stdout or it risks falling out of the driver's recorded tail
    println(metricLine)
    System.out.flush()
    spark.stop()
  }
}
