package graft.queries

import org.apache.spark.sql.functions._

/** Corpus-hygiene operators a pretraining data pipeline runs between raw
  * ingestion and tokenization — the published filter families, re-expressed
  * as Catalyst plans:
  *
  *  - repetition metrics (Gopher's "repetitive text" rules, Rae et al. 2021
  *    §A1.1: fraction of text in the most frequent n-gram / in duplicated
  *    n-grams) — [[repetition]];
  *  - cross-document duplicated-span detection (RefinedWeb / MassiveText
  *    line-dedup analog; the corpus has no newlines, so the unit is a
  *    16-token window at stride 8) — [[spanDedup]];
  *  - benchmark decontamination (the GPT-3 appendix-C / PaLM n-gram-overlap
  *    procedure: flag training docs sharing 8-gram spans with a held-out
  *    benchmark set) — [[decontaminate]].
  *
  * All three share the same whitespace tokenization as ta_* (TextOps) and
  * hash n-grams to md5 before any shuffle, so shuffled keys are fixed-width
  * digests, never text. Plans are explode → hash-partitioned groupBy joins —
  * no products; the benchmark gram set of [[decontaminate]] is broadcast
  * (benchmark suites are MB-scale against a 100 TB corpus — the canonical
  * broadcast-side asymmetry).
  */
/** Decoded WARC-capture features ([[graft.sources.Warc]]): exact sums
  * (the query layer owns any rounding). PACKAGE level, not nested in
  * [[CorpusOps]]: Janino cannot instantiate an object-nested case class
  * inside generated serializer code ("No applicable constructor/method
  * found"), which silently dropped all three archive-ingest Dataset
  * serializers out of whole-stage codegen into interpreted
  * UnsafeProjection — correct rows, per-row tax, ERROR log noise.
  */
private[queries] case class WarcFeatures(doc_id: Long, n_members: Long,
    n_records: Long, http_status: Long, body_bytes: Long,
    body_byte_sum: Long)

/** Decoded WebDataset-shard features ([[graft.sources.Tar]]) — package
  * level for codegen, see [[WarcFeatures]].
  */
private[queries] case class WdsFeatures(doc_id: Long, sample_key: String,
    n_files: Long, txt_bytes: Long, txt_byte_sum: Long, meta_bytes: Long)

/** Decoded zip-archive features ([[graft.sources.Zip]]) — package level
  * for codegen, see [[WarcFeatures]].
  */
private[queries] case class ZipFeatures(doc_id: Long, sample_key: String,
    n_files: Long, txt_bytes: Long, txt_byte_sum: Long, meta_bytes: Long)

object CorpusOps {
  import Tables.t

  /** Shared tokenizer CTE: non-empty whitespace tokens per doc. */
  private val ToksSql =
    "SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents"

  private def toksCol = filter(split(col("text"), " "), x => x =!= "")

  /** (doc_id, h): the md5 of every 8-token gram of `docs` — the overlap
    * unit of [[decontaminate]], shared with the pipeline capstone so both
    * compute the identical grams (single definition, no drift).
    */
  private[queries] def gramFps(docs: org.apache.spark.sql.DataFrame) = docs
    .select(col("doc_id"), toksCol.as("tk"))
    .filter(size(col("tk")) >= 8)
    .select(col("doc_id"), explode(expr(
      "transform(sequence(0, size(tk)-8), " +
        "i -> md5(concat_ws(' ', slice(tk, i+1, 8))))"))
      .as("h"))

  val repetition = Q(
    "ta_repetition",
    "Gopher-style repetition quality metrics (Rae et al. 2021, §A1.1) per " +
      "document: the count and fraction of 2-gram positions taken by the " +
      "MOST frequent 2-gram, and the count and fraction of 8-gram " +
      "positions whose 8-gram occurs more than once in the doc — the " +
      "signals that catch boilerplate and degenerate repetition. Two " +
      "per-doc (doc_id, gram) aggregations; grams are hashed to a " +
      "portable 32-bit md5 lane BEFORE the shuffle — counting is " +
      "per-document (≲ a few hundred grams), where a 32-bit space is " +
      "collision-safe and shuffling 8-byte keys beats 50-byte gram " +
      "strings; the oracle hashes identically, so even a collision " +
      "cannot diverge the engines. Fractions are exact integer ratios " +
      "(identical IEEE division on both engines — unrounded by design).",
    Some(s"""
      WITH d AS ($ToksSql),
           b AS (SELECT doc_id, tk FROM d WHERE len(tk) >= 8),
           g2 AS (SELECT doc_id,
                         ('0x' || substr(md5('0:' || tk[i+1] || ' ' || tk[i+2]), 1, 8))::BIGINT AS g
                  FROM (SELECT doc_id, tk, unnest(range(0, len(tk)-1)) AS i FROM b)),
           c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
           a2 AS (SELECT doc_id, max(c)::BIGINT AS top2_cnt, sum(c)::BIGINT AS tot2
                  FROM c2 GROUP BY doc_id),
           g8 AS (SELECT doc_id,
                         ('0x' || substr(md5('0:' || array_to_string(tk[i+1:i+8], ' ')), 1, 8))::BIGINT AS g
                  FROM (SELECT doc_id, tk, unnest(range(0, len(tk)-7)) AS i FROM b)),
           c8 AS (SELECT doc_id, g, count(*) AS c FROM g8 GROUP BY doc_id, g),
           a8 AS (SELECT doc_id, sum(c)::BIGINT AS tot8,
                         coalesce(sum(c) FILTER (WHERE c >= 2), 0)::BIGINT AS dup8
                  FROM c8 GROUP BY doc_id)
      SELECT a2.doc_id AS doc_id, top2_cnt, top2_cnt / tot2 AS top2_frac,
             dup8 AS dup8_cnt, dup8 / tot8 AS dup8_frac
      FROM a2 JOIN a8 ON a8.doc_id = a2.doc_id""".stripMargin),
    (spark, dir) => {
      // Plain re-tokenization per gram branch — two stateless codegen
      // scans. Materializing the tokenized corpus to share one scan
      // would checkpoint ~corpus-sized token arrays for work the scan
      // does nearly for free. Fanned scan (round 13): both branches
      // explode to every 2-/8-gram and md5 each — work-per-input-byte
      // far above the scan's (A/B −0.23 s at sf0.1, pass-through at
      // scale; see Q.Tables.fanned).
      val base = Tables.fanned(spark, dir, "documents")
        .select(col("doc_id"), toksCol.as("tk"))
        .filter(size(col("tk")) >= 8)
      def lane0(c: org.apache.spark.sql.Column) =
        graft.functions.Md5Lanes(c, 0, 1).getItem(0)
      val c2 = base
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(tk)-2), i -> concat_ws(' ', tk[i], tk[i+1]))"))
          .as("gs"))
        .select(col("doc_id"), lane0(col("gs")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      val a2 = c2.groupBy(col("doc_id"))
        .agg(max(col("c")).cast("long").as("top2_cnt"),
          sum(col("c")).cast("long").as("tot2"))
      val c8 = base
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(tk)-8), i -> concat_ws(' ', slice(tk, i+1, 8)))"))
          .as("gs"))
        .select(col("doc_id"), lane0(col("gs")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      val a8 = c8.groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("tot8"),
          coalesce(sum(when(col("c") >= 2, col("c"))), lit(0))
            .cast("long").as("dup8"))
      a2.join(a8, "doc_id")
        .select(col("doc_id"), col("top2_cnt"),
          (col("top2_cnt") / col("tot2")).as("top2_frac"),
          col("dup8").as("dup8_cnt"),
          (col("dup8") / col("tot8")).as("dup8_frac"))
    })

  val spanDedup = Q(
    "dedup_span",
    "Cross-document duplicated-span detection — the sub-document dedup " +
      "stage of RefinedWeb/MassiveText (their unit is the line; this " +
      "corpus has no newlines, so the unit is a 16-token window at stride " +
      "8 — any shared run of ≥ 23 tokens is guaranteed to contain an " +
      "aligned window on at least one side's grid, and the 2× overlap " +
      "keeps volume at ~len/8 spans per doc). Spans are md5-hashed before " +
      "the shuffle (fixed-width digests, never text), document frequency " +
      "is one groupBy on the hash, and each doc reports how many of its " +
      "spans appear in ≥ 2 distinct documents. At 100 TB this is the plan " +
      "that replaces line-dedup: explode → hash agg → hash join, all " +
      "equi, no text movement.",
    Some(s"""
      WITH d AS ($ToksSql),
           b AS (SELECT doc_id, tk FROM d WHERE len(tk) >= 16),
           sp AS (SELECT doc_id, md5(array_to_string(tk[i*8+1:i*8+16], ' ')) AS h
                  FROM (SELECT doc_id, tk,
                               unnest(range(0, (len(tk)-16)//8 + 1)) AS i FROM b)),
           df AS (SELECT h, count(DISTINCT doc_id) AS dfreq FROM sp GROUP BY h),
           j AS (SELECT sp.doc_id, CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END AS dup
                 FROM sp JOIN df ON df.h = sp.h)
      SELECT doc_id, count(*)::BIGINT AS n_spans, sum(dup)::BIGINT AS n_dup_spans,
             sum(dup) / count(*) AS dup_frac
      FROM j GROUP BY doc_id""".stripMargin),
    (spark, dir) => {
      val sp = Q.materialize(
        t(spark, dir, "documents")
          .select(col("doc_id"), toksCol.as("tk"))
          .filter(size(col("tk")) >= 16)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, (size(tk)-16) div 8), " +
              "i -> md5(concat_ws(' ', slice(tk, cast(i*8+1 as int), 16))))"))
            .as("h")))
      val dfreq = sp.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("dfreq"))
      sp.join(dfreq, "h")
        .select(col("doc_id"),
          when(col("dfreq") >= 2, 1L).otherwise(0L).as("dup"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_spans"),
          sum(col("dup")).cast("long").as("n_dup_spans"),
          (sum(col("dup")) / count(lit(1))).as("dup_frac"))
    })

  val decontaminate = Q(
    "ta_decontaminate",
    "Benchmark decontamination (the GPT-3 appendix-C / PaLM procedure): " +
      "flag training documents that share any 8-gram with a held-out " +
      "benchmark set — here the deterministic doc_id % 83 == 0 slice " +
      "stands in for the benchmark suite. Benchmark grams are md5-hashed, " +
      "DEDUPLICATED, and BROADCAST (benchmark suites are MB-scale against " +
      "a 100 TB corpus — the canonical small-side asymmetry); the corpus " +
      "side streams its gram positions once through a broadcast left join, " +
      "so no shuffle of the corpus at all. Output: per-doc gram count, " +
      "overlap count, contamination flag.",
    Some(s"""
      WITH d AS ($ToksSql),
           b AS (SELECT doc_id, tk FROM d WHERE len(tk) >= 8),
           g AS (SELECT doc_id, md5(array_to_string(tk[i+1:i+8], ' ')) AS h
                 FROM (SELECT doc_id, tk, unnest(range(0, len(tk)-7)) AS i FROM b)),
           bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 83 = 0),
           corp AS (SELECT doc_id, h FROM g WHERE doc_id % 83 <> 0),
           j AS (SELECT corp.doc_id, CASE WHEN bench.h IS NULL THEN 0 ELSE 1 END AS hit
                 FROM corp LEFT JOIN bench ON bench.h = corp.h)
      SELECT doc_id, count(*)::BIGINT AS n_grams, sum(hit)::BIGINT AS n_overlap,
             (sum(hit) > 0) AS contaminated
      FROM j GROUP BY doc_id""".stripMargin),
    (spark, dir) => {
      // Two scans by design, NOT one materialized gram explosion: the
      // benchmark side's doc_id filter pushes into its parquet scan (it
      // reads ~1/83 of the corpus), while the corpus side streams its
      // grams straight into the broadcast join — checkpointing the full
      // 8-gram explosion to share one scan would write ~8× the corpus.
      // Corpus side fanned (round 13): the 8-gram explode + md5 is the
      // dominant per-row work (A/B −0.10 s at sf0.1). The bench side
      // keeps the BARE scan — fanning it would put the repartition
      // exchange between the doc_id filter and the parquet scan for a
      // frame that reads ~1/83 of the corpus.
      val docs = t(spark, dir, "documents")
      val bench = gramFps(docs.filter(col("doc_id") % 83 === 0))
        .select(col("h")).distinct().withColumn("mark", lit(1L))
      gramFps(Tables.fanned(spark, dir, "documents")
          .filter(col("doc_id") % 83 =!= 0))
        .join(broadcast(bench), Seq("h"), "left")
        .select(col("doc_id"),
          when(col("mark").isNull, 0L).otherwise(1L).as("hit"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_grams"),
          sum(col("hit")).cast("long").as("n_overlap"),
          (sum(col("hit")) > 0).as("contaminated"))
    })

  /** `keep` columns + the DISTINCT CDC chunk fingerprints of `text` as one
    * array column `chunk_fps` — the same cuts/chunks/md5 math as [[cdcFps]]
    * but fully stateless and explode-free, so the streaming face can apply
    * it per arriving row before its keyed state with zero pre-shuffle work
    * (`Streams.cdcDedupStream` shares it; parameters locked to
    * ta_cdc_chunks' window=8/maskBits=5). Each step is its own projection:
    * `cuts`/`starts`/`ends` become attributes, which CollapseProject keeps
    * (multi-referenced non-cheap expressions are not inlined), so CdcCuts
    * runs once per row.
    */
  private[graft] def cdcFpArray(docs: org.apache.spark.sql.DataFrame,
      keep: String*): org.apache.spark.sql.DataFrame = {
    val k = keep.map(col)
    docs
      .select(k :+ col("text") :+
        graft.functions.CdcCuts(col("text"), 8, 5).as("cuts"): _*)
      .select(k :+ col("text") :+
        expr("concat(array(0L), cuts)").as("starts") :+
        expr("concat(cuts, array(cast(length(text) as bigint)))").as("ends"): _*)
      .select(k :+ expr(
        "array_distinct(transform(" +
          "filter(sequence(0, size(starts) - 1), i -> ends[i] > starts[i]), " +
          "i -> md5(substring(text, cast(starts[i] + 1 as int), " +
          "cast(ends[i] - starts[i] as int)))))").as("chunk_fps"): _*)
  }

  /** Spark-side CDC chunk fingerprints (doc_id, chunk_fp) — the
    * ta_cdc_chunks pipeline reduced to its dedup-relevant columns.
    */
  private def cdcFps(docs: org.apache.spark.sql.DataFrame) = docs
    .select(col("doc_id"), col("text"),
      graft.functions.CdcCuts(col("text"), 8, 5).as("cuts"))
    .select(col("doc_id"), col("text"),
      expr("concat(array(0L), cuts)").as("starts"),
      expr("concat(cuts, array(cast(length(text) as bigint)))").as("ends"))
    .select(col("doc_id"), col("text"), col("starts"), col("ends"),
      explode(expr("sequence(0L, cast(size(starts) - 1 as long))")).as("i"))
    .withColumn("s", expr("starts[cast(i as int)]"))
    .withColumn("e", expr("ends[cast(i as int)]"))
    .filter(col("e") > col("s"))
    .select(col("doc_id"),
      md5(expr("substring(text, cast(s+1 as int), cast(e-s as int))"))
        .as("chunk_fp"))

  /** The ta_cdc_chunks CTE chain as SQL, ending in fps(doc_id, chunk_fp). */
  private val CdcFpsSql = """
           cps AS (SELECT doc_id, text,
                          list_transform(range(1, length(text)+1),
                            i -> ord(substr(text, i::INT, 1))::BIGINT) AS cp
                   FROM documents),
           cut AS (SELECT doc_id, text,
                          list_filter(range(8, len(cp)+1), i ->
                            (list_sum(list_transform(range(0, 8),
                               j -> cp[(i-j)::INT] * (31 ** j)::BIGINT))::BIGINT
                              & 31) = 0) AS cuts
                   FROM cps),
           ch AS (SELECT doc_id, text,
                         list_prepend(0::BIGINT, cuts) AS starts,
                         list_append(cuts, length(text)::BIGINT) AS ends
                  FROM cut),
           fps AS (SELECT doc_id,
                          md5(substr(text, (starts[(i+1)::INT]+1)::INT,
                            (ends[(i+1)::INT]-starts[(i+1)::INT])::INT)) AS chunk_fp
                   FROM (SELECT *, unnest(range(0, len(starts))) AS i FROM ch)
                   WHERE ends[(i+1)::INT] > starts[(i+1)::INT])"""

  val cdcDedup = Q(
    "dedup_cdc",
    "Chunk-level cross-document dedup over CONTENT-DEFINED boundaries — " +
      "what CdcCuts exists for: because chunk edges depend only on local " +
      "content, a near-dup that inserts or deletes text still shares most " +
      "chunk fingerprints with its source (fixed-stride chunking loses " +
      "every chunk after the first edit). Per doc: CDC chunks, chunks " +
      "whose fingerprint appears in ≥ 2 distinct docs, and the shared " +
      "fraction — the sub-document dedup census. Same plan family as " +
      "dedup_span (explode → hash agg on the digest → equi join back), " +
      "only 32-byte digests ever shuffle. The ~32-char expected chunks " +
      "(maskBits=5, matching ta_cdc_chunks) recur across unrelated docs " +
      "of this small-vocabulary synthetic corpus — an honest property of " +
      "the data, not a bug; production CDC dedup uses 2-8 KB expected " +
      "chunks (maskBits 11-13, the expression's knobs) where accidental " +
      "collision is negligible.",
    Some(s"""
      WITH $CdcFpsSql,
           df AS (SELECT chunk_fp, count(DISTINCT doc_id) AS dfreq
                  FROM fps GROUP BY chunk_fp),
           j AS (SELECT fps.doc_id, CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END AS shared
                 FROM fps JOIN df ON df.chunk_fp = fps.chunk_fp)
      SELECT doc_id, count(*)::BIGINT AS n_chunks,
             sum(shared)::BIGINT AS n_shared_chunks,
             sum(shared) / count(*) AS shared_frac
      FROM j GROUP BY doc_id""".stripMargin),
    (spark, dir) => {
      val fps = Q.materialize(cdcFps(t(spark, dir, "documents")))
      val dfreq = fps.groupBy(col("chunk_fp"))
        .agg(countDistinct(col("doc_id")).as("dfreq"))
      fps.join(dfreq, "chunk_fp")
        .select(col("doc_id"),
          when(col("dfreq") >= 2, 1L).otherwise(0L).as("shared"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_chunks"),
          sum(col("shared")).cast("long").as("n_shared_chunks"),
          (sum(col("shared")) / count(lit(1))).as("shared_frac"))
    })

  val bloomIncremental = Q(
    "dedup_bloom_incremental",
    "Incremental sub-document dedup of an ARRIVING batch against a " +
      "corpus-scale Bloom filter (Bloom 1970; the Broder/web-crawl 'have " +
      "I seen this shingle' pattern): the existing corpus (doc_id % 5 != " +
      "0) is reduced to a FIXED-SIZE bit set — k=4 bit positions per " +
      "distinct CDC chunk fingerprint, extracted from the md5 hex itself " +
      "(4 disjoint 8-hex-char lanes, so the oracle reproduces every " +
      "position in SQL), OR-folded into 2048 word rows (32-bit words — shifts stay far" +
      " from the BIGINT sign bit on both engines) by a perfectly " +
      "partial-aggregable bit_or — and the new batch (doc_id % 5 == 0) " +
      "probes it via a BROADCAST join, never shuffling the existing " +
      "corpus at all. That asymmetry is the whole point at 100 TB: the " +
      "accumulated store compresses to m bits (GB-scale for trillions of " +
      "chunks at 1% FP), while per-batch work is O(new chunks). Each new " +
      "doc reports its distinct chunks, Bloom maybe-hits (all 4 lanes " +
      "set), and exact hits against the true fingerprint set computed " +
      "alongside — bloom_hits >= exact_hits always (no false negatives; " +
      "BloomSpec asserts the one-sided bound and measures the FP rate). " +
      "m=65536/k=4 are demo-width knobs; the plan shape (fixed-size " +
      "sketch, broadcast probe) is the production one.",
    Some(s"""
      WITH $CdcFpsSql,
           fpd AS (SELECT DISTINCT doc_id, chunk_fp FROM fps),
           ex AS (SELECT DISTINCT chunk_fp FROM fpd WHERE doc_id % 5 <> 0),
           exl AS (SELECT ('0x' || substr(chunk_fp, 1 + 8*l::INT, 8))::BIGINT % 65536 AS pos
                   FROM ex, range(0, 4) t(l)),
           bloom AS (SELECT pos // 32 AS w,
                            bit_or(1::BIGINT << (pos % 32)::INT) AS bits
                     FROM exl GROUP BY pos // 32),
           nwl AS (SELECT doc_id, chunk_fp,
                          ('0x' || substr(chunk_fp, 1 + 8*l::INT, 8))::BIGINT % 65536 AS pos
                   FROM fpd, range(0, 4) t(l) WHERE doc_id % 5 = 0),
           probe AS (SELECT doc_id, chunk_fp,
                            CASE WHEN bits IS NOT NULL
                                  AND (bits & (1::BIGINT << (pos % 32)::INT)) <> 0
                                 THEN 1 ELSE 0 END AS hit
                     FROM nwl LEFT JOIN bloom ON bloom.w = nwl.pos // 32),
           chk AS (SELECT doc_id, chunk_fp,
                          CASE WHEN sum(hit) = 4 THEN 1 ELSE 0 END AS bloom_hit
                   FROM probe GROUP BY doc_id, chunk_fp),
           wex AS (SELECT chk.doc_id, chk.bloom_hit,
                          CASE WHEN ex.chunk_fp IS NULL THEN 0 ELSE 1 END AS exact_hit
                   FROM chk LEFT JOIN ex ON ex.chunk_fp = chk.chunk_fp)
      SELECT doc_id, count(*)::BIGINT AS n_chunks,
             sum(bloom_hit)::BIGINT AS n_bloom_hits,
             sum(exact_hit)::BIGINT AS n_exact_hits
      FROM wex GROUP BY doc_id""".stripMargin),
    (spark, dir) => {
      // One CDC scan feeds both the sketch build and the probe side.
      val fpd = Q.materialize(
        cdcFps(t(spark, dir, "documents")).distinct())
      val ex = fpd.filter(col("doc_id") % 5 =!= 0)
        .select(col("chunk_fp")).distinct()
      // k=4 positions per fingerprint, straight from the md5 hex: lane l
      // is hex chars [8l, 8l+8) parsed as a 32-bit value, mod m=65536.
      def lanes(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("l", explode(sequence(lit(0), lit(3))))
        .withColumn("pos", expr(
          "cast(conv(substring(chunk_fp, cast(1 + 8*l as int), 8), 16, 10) as bigint) % 65536"))
      val bloom = lanes(ex)
        .groupBy(expr("pos div 32").as("w"))
        .agg(expr("bit_or(shiftleft(1L, cast(pos % 32 as int)))").as("bits"))
      val probe = lanes(fpd.filter(col("doc_id") % 5 === 0))
        .withColumn("w", expr("pos div 32"))
        .join(broadcast(bloom), Seq("w"), "left")
        .withColumn("hit", when(col("bits").isNotNull &&
          expr("(bits & shiftleft(1L, cast(pos % 32 as int))) <> 0"), 1)
          .otherwise(0))
      val chk = probe.groupBy(col("doc_id"), col("chunk_fp"))
        .agg(when(sum(col("hit")) === 4, 1).otherwise(0).as("bloom_hit"))
      chk.join(broadcast(ex.withColumn("mark", lit(1))), Seq("chunk_fp"), "left")
        .select(col("doc_id"), col("bloom_hit"),
          when(col("mark").isNull, 0).otherwise(1).as("exact_hit"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_chunks"),
          sum(col("bloom_hit")).cast("long").as("n_bloom_hits"),
          sum(col("exact_hit")).cast("long").as("n_exact_hits"))
    })

  val upsert = Q(
    "pipeline_upsert",
    "Latest-version-wins corpus MERGE — the maintenance operation of an " +
      "incrementally-updated corpus (the batch analog of a Delta/Iceberg " +
      "MERGE INTO, and how a CDC feed compacts into a training store): " +
      "the standing corpus at version 1 unioned with an update batch " +
      "(the doc_id % 10 slice, deterministically re-written, version 2), " +
      "resolved per doc by max_by(text, version) in ONE aggregation. " +
      "max_by is partial-aggregable — every map partition reduces to one " +
      "candidate row per key BEFORE the shuffle — which is why this " +
      "shape beats the window row_number formulation at 100 TB (a " +
      "window sorts whole partitions and carries every version across " +
      "the wire; the agg carries one). The update scan's filter pushes " +
      "to parquet: the base corpus is read once, the delta reads 1/10.",
    Some("""
      WITH base AS (SELECT doc_id, 1 AS version, text FROM documents),
           upd AS (SELECT doc_id, 2 AS version, upper(text) AS text
                   FROM documents WHERE doc_id % 10 = 0),
           u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
           m AS (SELECT doc_id, max_by(text, version) AS text,
                        max(version) AS version
                 FROM u GROUP BY doc_id)
      SELECT doc_id, version::BIGINT AS version, md5(text) AS fp
      FROM m""".stripMargin),
    (spark, dir) => {
      val docs = t(spark, dir, "documents")
      val base = docs.select(col("doc_id"), lit(1).as("version"), col("text"))
      val upd = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit(2).as("version"),
          upper(col("text")).as("text"))
      base.unionAll(upd)
        .groupBy(col("doc_id"))
        .agg(max_by(col("text"), col("version")).as("text"),
          max(col("version")).cast("long").as("version"))
        .select(col("doc_id"), col("version"), md5(col("text")).as("fp"))
    })

  val cmsTopk = Q(
    "ta_cms_topk",
    "Count-Min-Sketch heavy hitters (Cormode & Muthukrishnan 2005) — the " +
      "bounded-memory frequency sketch a 100 TB pipeline uses where an " +
      "exact vocabulary count would not fit: depth 4 × width 1024 " +
      "counters, all four row-hashes extracted from ONE Md5Lanes digest " +
      "per token (portable — the oracle reproduces every lane in SQL). " +
      "The sketch build is a (row, cell) aggregation — fixed 4096-cell " +
      "output regardless of corpus size, perfectly partial-aggregable — " +
      "and the top-10 exact words (computed alongside for the " +
      "demonstration) get their CMS estimate via an equi join against " +
      "the broadcast sketch: est = min over rows of the hashed cell, " +
      "always ≥ exact (CmsSpec asserts the one-sided error bound).",
    Some("""
      WITH w AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
                 FROM documents),
           lanes AS (SELECT word, l,
                            (('0x' || substr(md5('0:' || word), 1 + 8*l::INT, 8))::BIGINT % 1024) AS cell
                     FROM w, range(0, 4) t(l)),
           sketch AS (SELECT l, cell, count(*) AS c FROM lanes GROUP BY l, cell),
           exact AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
           top AS (SELECT word, cnt, rank FROM (
                     SELECT word, cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rank
                     FROM exact) WHERE rank <= 10),
           est AS (SELECT t.word, t.cnt, t.rank, min(s.c)::BIGINT AS est_cnt
                   FROM top t, range(0, 4) q(l)
                   JOIN sketch s ON s.l = q.l AND s.cell =
                     (('0x' || substr(md5('0:' || t.word), 1 + 8*q.l::INT, 8))::BIGINT % 1024)
                   GROUP BY t.word, t.cnt, t.rank)
      SELECT word, cnt::BIGINT AS exact_cnt, est_cnt, rank::BIGINT AS rank
      FROM est""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val words = t(spark, dir, "documents")
        .select(explode(toksCol).as("word"))
      def lanes(df: org.apache.spark.sql.DataFrame) = df
        .select(df.columns.map(col) :+
          posexplode(graft.functions.Md5Lanes(col("word"), 0, 1)): _*)
        .withColumn("cell", col("col") % 1024)
        .withColumnRenamed("pos", "l")
        .drop("col")
      val sketch = lanes(words).groupBy(col("l"), col("cell"))
        .agg(count(lit(1)).as("c"))
      val exact = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      // TakeOrderedAndProject (orderBy+limit), then a trivial 10-row
      // window for the rank — same (cnt DESC, word) key as the oracle's
      // row_number, without a vocabulary-wide single-partition window.
      // WindowExec's no-partition WARN is suppressed at session build
      // (Sessions.quietBoundedWindowWarn): a literal partition key can't
      // silence it — EliminateWindowPartitions strips foldable keys —
      // and PlanShapeSpec locks the GlobalLimit bound instead.
      val top = exact.orderBy(col("cnt").desc, col("word")).limit(10)
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("cnt").desc, col("word"))).cast("long"))
      lanes(top)
        .join(broadcast(sketch), Seq("l", "cell"))
        .groupBy(col("word"), col("cnt"), col("rank"))
        .agg(min(col("c")).cast("long").as("est_cnt"))
        .select(col("word"), col("cnt").cast("long").as("exact_cnt"),
          col("est_cnt"), col("rank"))
    })

  val warcIngest = Q(
    "src_warc_ingest",
    "RAW-ARCHIVE INGEST — the step BEFORE every other operator in this " +
      "inventory: 100 TB text corpora arrive as Common-Crawl-style WARC " +
      "(ISO 28500), a concatenation of per-record GZIP MEMBERS whose " +
      "boundaries are what make a petabyte file splittable across " +
      "executors. Each document's bytes become a real 3-record capture " +
      "(warcinfo + request + response, each its own gzip member), and " +
      "graft.sources.Warc walks it all the way down: per-member RFC 1952 " +
      "header parse, raw inflate, CRC32 AND ISIZE trailer verification " +
      "(a flipped bit rejects loudly, never feeds corrupt text " +
      "downstream), Content-Length-exact WARC record framing (never " +
      "boundary scanning — payloads may contain 'WARC/1.0'), and HTTP " +
      "response unwrapping to the body a pipeline actually wants. The " +
      "oracle verifies the response body survives deflate " +
      "byte-for-byte via its exact byte sum; the structural columns pin " +
      "the member/record walk. ASCII contract as mm_pixel_stats. One " +
      "scan, zero exchanges; archive bytes never shuffle — only the " +
      "fixed-width feature row leaves the scan stage, exactly the " +
      "economics of a distributed WARC reader.",
    Some("""
      WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS len
                 FROM documents
                 WHERE length(text) > 0
                   AND octet_length(encode(text)) = length(text)),
           s AS (SELECT doc_id, len,
                        ascii(substr(text, (i + 1)::INT, 1)) AS v
                 FROM (SELECT doc_id, text, len, unnest(range(0, len)) AS i
                       FROM d))
      SELECT doc_id, 3::BIGINT AS n_members, 3::BIGINT AS n_records,
             200::BIGINT AS http_status, len::BIGINT AS body_bytes,
             sum(v)::BIGINT AS body_byte_sum
      FROM s GROUP BY doc_id, len""".stripMargin),
    (spark, dir) => {
      import spark.implicits._
      t(spark, dir, "documents")
        .filter(length(col("text")) > 0 &&
          octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.grouped(64).flatMap { batch =>
            batch.map { case (id, text) =>
              val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val cap = graft.sources.Warc.decodeCapture(
                graft.sources.Warc.encodeCapture(s"http://graft.test/$id",
                  body))
              var sum = 0L
              cap.body.foreach(b => sum += b & 0xff)
              WarcFeatures(id, cap.nMembers.toLong, cap.records.length.toLong,
                cap.httpStatus.toLong, cap.body.length.toLong, sum)
            }
          }
        }
        .toDF()
        .select(col("doc_id"), col("n_members"), col("n_records"),
          col("http_status"), col("body_bytes"), col("body_byte_sum"))
    })

  val zorderLayout = Q(
    "src_zorder_layout",
    "Z-ORDER (Morton-curve) layout assignment — the two-dimensional " +
      "clustering step every lakehouse runs when readers filter on TWO " +
      "columns: sources/Compaction's range layout makes parquet footer " +
      "min/max selective on ONE key and useless on the rest, while " +
      "interleaving the bits of two 16-bit-normalized keys makes any " +
      "contiguous Morton range a small RECTANGLE in (a, b) space. The " +
      "census PROVES the locality law on real data: per 4096-ary curve " +
      "region (top 12 Morton bits = top 6 bits of each dimension), the " +
      "row count and each dimension's min/max — every region's span is " +
      "necessarily <= 1023 on BOTH dims (each holds its top 6 of 16 " +
      "bits fixed), i.e. 1/64th of each key range at once, which is " +
      "exactly the file-skipping guarantee Z-ordered files give a " +
      "two-predicate reader. The spread is the classic magic-mask bit " +
      "interleave — pure codegen shifts/masks/ors (graft.sources." +
      "ZOrder, no UDF), spelled with identical integer semantics in " +
      "the DuckDB oracle; dims are user_id and event_id min/max-SCALED " +
      "into the full 16-bit range (the order-preserving normalization " +
      "production Z-order applies — raw user ids fill 9 of 16 bits, " +
      "which would starve one dimension's high bits and collapse the " +
      "curve to a 1-D sort; the 1-row min/max frame is a whitelisted " +
      "broadcast cross, all integer arithmetic). One scan + the 1-row " +
      "stats pass, one region-keyed partial-aggregable exchange. " +
      "ZOrderSpec adds the LAYOUT leg: compactToZ files bound BOTH " +
      "dims' per-file spans while single-key range compaction leaves " +
      "the second dimension unclustered.",
    Some("""
      WITH raw AS (SELECT user_id AS ua, event_id AS eb FROM events),
           mm AS (SELECT min(ua) AS ua0, max(ua) AS ua1,
                         min(eb) AS eb0, max(eb) AS eb1 FROM raw),
           e AS (SELECT (ua - ua0) * 65535 // greatest(ua1 - ua0, 1) AS a,
                        (eb - eb0) * 65535 // greatest(eb1 - eb0, 1) AS b
                 FROM raw CROSS JOIN mm),
           s1 AS (SELECT a, b, (a | (a << 8)) & 16711935 AS a1,
                         (b | (b << 8)) & 16711935 AS b1 FROM e),
           s2 AS (SELECT a, b, (a1 | (a1 << 4)) & 252645135 AS a2,
                         (b1 | (b1 << 4)) & 252645135 AS b2 FROM s1),
           s3 AS (SELECT a, b, (a2 | (a2 << 2)) & 858993459 AS a3,
                         (b2 | (b2 << 2)) & 858993459 AS b3 FROM s2),
           s4 AS (SELECT a, b,
                         ((a3 | (a3 << 1)) & 1431655765) |
                         (((b3 | (b3 << 1)) & 1431655765) << 1) AS z
                  FROM s3)
      SELECT (z >> 20)::BIGINT AS region, count(*)::BIGINT AS n_events,
             min(a)::BIGINT AS a_min, max(a)::BIGINT AS a_max,
             min(b)::BIGINT AS b_min, max(b)::BIGINT AS b_max
      FROM s4 GROUP BY region""".stripMargin),
    (spark, dir) => {
      val raw = Tables.events(spark, dir)
        .select(col("user_id").as("ua"), col("event_id").as("eb"))
      val mm = raw.agg(min(col("ua")).as("ua0"), max(col("ua")).as("ua1"),
        min(col("eb")).as("eb0"), max(col("eb")).as("eb1"))
      val e = raw.crossJoin(broadcast(mm))
        .select(
          expr("(ua - ua0) * 65535 div greatest(ua1 - ua0, 1)").as("a"),
          expr("(eb - eb0) * 65535 div greatest(eb1 - eb0, 1)").as("b"))
      e.withColumn("region",
        shiftright(graft.sources.ZOrder.morton2(col("a"), col("b")), 20))
        .groupBy(col("region"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          min(col("a")).cast("long").as("a_min"),
          max(col("a")).cast("long").as("a_max"),
          min(col("b")).cast("long").as("b_min"),
          max(col("b")).cast("long").as("b_max"))
    })

  val snapshotMerge = Q(
    "src_snapshot_merge",
    "ROW-LEVEL DELETE + MERGE AS TABLE COMMITS — the two write shapes a " +
      "production lakehouse user runs weekly, exercised END-TO-END " +
      "through graft.sources.Snapshots' manifest/pointer contract: the " +
      "documents table is PUBLISHED as v1 (range-clustered on doc_id so " +
      "footer min/max prune the later find-touched-files scans), a CDC " +
      "delta (10% updates with bumped n_chars + inserts keyed past the " +
      "id range, lang 'xx') is MERGED as v2 (last-writer-wins on doc_id, " +
      "file-granularity copy-on-write: only files holding a delta key " +
      "are rewritten, the rest carry over byte-for-byte), a GDPR-style " +
      "DELETE (doc_id % 10 = 4) commits v3 the same way, and the query " +
      "reads the committed LATEST — so a manifest slip, a non-atomic " +
      "pointer flip, a lost insert, or a delete that rewrote (or " +
      "missed) the wrong file all surface as row/hash drift against the " +
      "oracle's pure-SQL replay of the same upsert+delete semantics. " +
      "The only driver-side collects are the touched FILE-NAME lists " +
      "(metadata-scale, production's findTouchedFiles); data moves in " +
      "exactly two bounded rewrites. SnapshotsSpec certifies the " +
      "transactional laws (crash windows, time-travel undo, debris " +
      "tolerance); this query certifies the committed RESULT.",
    Some("""
      WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
           delta AS (
             SELECT doc_id, lang, n_chars + 1000 AS n_chars
             FROM base WHERE doc_id % 10 = 3
             UNION ALL
             SELECT doc_id + 1000000 AS doc_id, 'xx' AS lang, n_chars
             FROM base WHERE doc_id % 100 = 7),
           merged AS (
             SELECT doc_id, lang, n_chars FROM delta
             UNION ALL
             SELECT b.doc_id, b.lang, b.n_chars FROM base b
             WHERE b.doc_id NOT IN (SELECT doc_id FROM delta))
      SELECT doc_id, lang, n_chars
      FROM merged WHERE doc_id % 10 <> 4""".stripMargin),
    (spark, dir) => {
      import graft.sources.Snapshots
      val table = graft.TempDirs.create("graft_snapq")
      val base = t(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Snapshots.publish(base.repartitionByRange(4, col("doc_id")), table)
      val delta = base.filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000L).as("n_chars"))
        .unionByName(base.filter(col("doc_id") % 100 === 7)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            lit("xx").as("lang"), col("n_chars")))
      Snapshots.merge(spark, table, delta, "doc_id")
      Snapshots.deleteWhere(spark, table, col("doc_id") % 10 === 4)
      Snapshots.read(spark, table)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    })

  val schemaEvolution = Q(
    "src_schema_evolution",
    "SCHEMA EVOLUTION AS TABLE COMMITS — the lifecycle every long-lived " +
      "production table goes through, exercised end-to-end against " +
      "graft.sources.Snapshots' versioned-schema metadata: documents " +
      "PUBLISHED as v1 (doc_id, lang, n_chars), ADD COLUMN (quality " +
      "double, tokens bigint) commits v2 METADATA-ONLY (same files, no " +
      "read, no rewrite — O(1) at any table size, because the reader " +
      "applies the DECLARED schema and pre-evolution files null-fill at " +
      "scan time; the 100 TB alternative, parquet mergeSchema, is a " +
      "footer scan of the whole table and cannot even represent a " +
      "column no file carries yet), an APPEND commits v3 with new rows " +
      "CARRYING values, and a MERGE backfills the new columns into one " +
      "slice of pre-evolution rows as v4 — whose copy-on-write path " +
      "must read old files UNDER the evolved schema or the rewrite " +
      "fails on exactly the files it needs — and a RENAME COLUMN " +
      "(quality -> score) commits v5 metadata-only through the stable " +
      "field-id mapping (files keep the physical name; the read aliases " +
      "to the version's logical name, so the backfilled and appended " +
      "values must SURVIVE the rename byte-for-byte or the oracle " +
      "hash catches the loss). The query reads the committed latest: " +
      "nulls where no write ever supplied a value, " +
      "values exactly where the append/backfill put them — so a ghost " +
      "default, a lost backfill, a schema applied to the wrong " +
      "version, a null-fill slip, or a rename that detaches its data " +
      "all surface as value drift against " +
      "the oracle's pure-SQL replay. SnapshotsSpec certifies the " +
      "metadata-only law (file list unchanged), the compat gate " +
      "(missing column / type drift loud, new columns only under " +
      "mergeSchema), pre-evolution time travel, and vacuum expiry of " +
      "schema metadata; SchemaMappingSpec certifies rename/drop laws.",
    Some("""
      WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
           appended AS (
             SELECT doc_id + 1000000 AS doc_id, 'yy' AS lang, n_chars,
                    round(n_chars / 1000.0 + 1e-6, 2) AS quality,
                    (n_chars // 5)::BIGINT AS tokens
             FROM base WHERE doc_id % 100 = 7),
           backfill AS (
             SELECT doc_id, lang, n_chars,
                    round(n_chars / 1000.0 + 1e-6, 2) AS quality,
                    (n_chars // 5)::BIGINT AS tokens
             FROM base WHERE doc_id % 10 = 3)
      SELECT doc_id, lang, n_chars,
             CAST(NULL AS DOUBLE) AS score, CAST(NULL AS BIGINT) AS tokens
      FROM base WHERE doc_id % 10 <> 3
      UNION ALL SELECT doc_id, lang, n_chars, quality AS score, tokens
      FROM backfill
      UNION ALL SELECT doc_id, lang, n_chars, quality AS score, tokens
      FROM appended""".stripMargin),
    (spark, dir) => {
      import graft.sources.Snapshots
      import org.apache.spark.sql.types.{DoubleType, LongType, StructField}
      val table = graft.TempDirs.create("graft_snapevo_q")
      val base = t(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Snapshots.publish(base.repartitionByRange(4, col("doc_id")), table)
      Snapshots.addColumns(spark, table,
        StructField("quality", DoubleType), StructField("tokens", LongType))
      def widened(df: org.apache.spark.sql.DataFrame) = df.select(
        col("doc_id"), col("lang"), col("n_chars"),
        Det.r2e(col("n_chars") / 1000.0).as("quality"),
        expr("n_chars div 5").as("tokens"))
      Snapshots.append(widened(base.filter(col("doc_id") % 100 === 7)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("lang", lit("yy"))), table)
      Snapshots.merge(spark, table,
        widened(base.filter(col("doc_id") % 10 === 3)), "doc_id")
      // v5: RENAME quality -> score, metadata-only — the values the
      // append and backfill wrote must survive under the new name.
      Snapshots.renameColumn(table, "quality", "score")
      Snapshots.read(spark, table)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("score"), col("tokens"))
    })

  val bucketedJoin = Q(
    "src_bucketed_join",
    "BUCKETED CO-LOCATED JOIN — the pre-shuffled layout " +
      "(graft.sources.Bucketing): orders and lineitem are WRITTEN " +
      "hash-bucketed into the same 8 buckets on the order key (bucketBy " +
      "+ in-bucket sortBy), then the revenue-per-priority report joins " +
      "the BUCKETED tables — the scan itself satisfies the join's " +
      "distribution requirement, so the fact⋈fact join runs with no " +
      "exchange on either side (BucketingSpec pins exactly that: zero " +
      "shuffle exchanges in the bucketed join's plan, versus both sides " +
      "exchanging over plain parquet, with row-identical results). At " +
      "100 TB this is the layout trade for RECURRING joins: the shuffle " +
      "both sides would pay on every run is paid once at write time — " +
      "the only exchange left in this plan is the 5-row priority " +
      "aggregate. The oracle replays the same join over the raw tables: " +
      "a bucket-routing error (a row hashed into the wrong bucket joins " +
      "nothing) surfaces as row loss, not silence.",
    Some("""
      SELECT o_orderpriority,
             round(sum(l_extendedprice * (1 - l_discount)) + 1e-6, 2)
               AS revenue,
             count(*) AS n_items
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority""".stripMargin),
    (spark, dir) => {
      import graft.sources.Bucketing
      val tmp = graft.TempDirs.create("graft_bucket_q")
      val tag = tmp.substring(tmp.lastIndexOf('/') + 1)
      val (lt, ot) = (s"li_$tag", s"ord_$tag")
      Bucketing.writeBucketed(t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount")),
        lt, s"$tmp/$lt", 8, "l_orderkey")
      Bucketing.writeBucketed(t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")),
        ot, s"$tmp/$ot", 8, "o_orderkey")
      spark.table(lt)
        .join(spark.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(Det.r2e(sum(col("l_extendedprice")
          * (lit(1) - col("l_discount")))).as("revenue"),
          count(lit(1)).as("n_items"))
    })

  val incrementalAgg = Q(
    "pipeline_incremental_agg",
    "INCREMENTAL VIEW MAINTENANCE on the snapshot table — the nightly-ETL " +
      "pattern every warehouse runs: a per-(user, event_type) aggregate " +
      "table (count + value sum) is PUBLISHED from the first batch of " +
      "events, then the second batch arrives and the table is brought " +
      "current WITHOUT touching batch-1 rows again: aggregate ONLY the " +
      "new events, LEFT-join the current table to pick up prior totals " +
      "(coalesce for keys the table has never seen), COMBINE — count and " +
      "sum are algebraic, which is the property that makes any aggregate " +
      "incrementally maintainable — and MERGE the combined rows as one " +
      "transactional version (updates where the key exists, inserts " +
      "where it doesn't: the split is engineered so both paths carry " +
      "real rows — users ≡7 mod 10 appear ONLY in batch 2). At 100 TB " +
      "the economics are the whole point: the maintenance cost is " +
      "O(new batch + touched aggregate rows), not O(history) — the " +
      "full-recompute alternative re-scans the entire corpus nightly. " +
      "The oracle IS that full recompute: one GROUP BY over all events — " +
      "so a lost batch-1 total, a double-counted key, a missed insert, " +
      "or a non-transactional partial merge all surface as value drift.",
    Some("""
      SELECT user_id, event_type, count(*) AS n_events,
             round(sum(value) + 1e-6, 2) AS sum_value
      FROM events GROUP BY user_id, event_type""".stripMargin),
    (spark, dir) => {
      import graft.sources.Snapshots
      val table = graft.TempDirs.create("graft_incragg_q")
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val k = concat(col("user_id"), lit(":"), col("event_type")).as("k")
      def aggOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(k, col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      val batch1 = ev.filter(col("user_id") % 10 =!= 7
        && col("event_id") % 2 === 0)
      val batch2 = ev.filter(col("user_id") % 10 === 7
        || col("event_id") % 2 === 1)
      Snapshots.publish(aggOf(batch1), table)
      val cur = Snapshots.read(spark, table)
        .select(col("k"), col("n_events").as("n1"),
          col("sum_value").as("s1"))
      val delta = aggOf(batch2)
        .join(cur, Seq("k"), "left_outer")
        .select(col("k"), col("user_id"), col("event_type"),
          (col("n_events") + coalesce(col("n1"), lit(0L))).as("n_events"),
          (col("sum_value") + coalesce(col("s1"), lit(0.0))).as("sum_value"))
      Snapshots.merge(spark, table, delta, "k")
      Snapshots.read(spark, table)
        .select(col("user_id"), col("event_type"), col("n_events"),
          Det.r2e(col("sum_value")).as("sum_value"))
    })

  val changeFeed = Q(
    "src_change_feed",
    "CHANGE DATA FEED over the snapshot table — the reader-side dual of " +
      "incremental view maintenance: a downstream consumer asks 'what " +
      "changed since version N?' and gets the exact insert/delete rows, " +
      "derived from NOTHING but the committed manifests — no commit-time " +
      "change log, because immutable files + per-version manifests make " +
      "the change set recomputable: per version step, rows of added " +
      "files are candidate inserts, rows of removed files candidate " +
      "deletes, and the bag-difference (exceptAll) cancels every row a " +
      "copy-on-write rewrite merely CARRIED into a new file. The table " +
      "here lives three commits: documents published (v1), a GDPR-style " +
      "range DELETE (v2, one file rewritten), and a CDC MERGE (v3: 10 " +
      "updates + 5 inserts — each update surfacing as its delete+insert " +
      "pair, the file-granularity CoW truth). Cost per step is O(files " +
      "the commit touched), never O(table) — the same bound the writers " +
      "guarantee — so at 100 TB a day's feed costs what the day's " +
      "commits cost, while the alternative (diff two full snapshots) " +
      "scans the table twice. The oracle replays the expected change " +
      "set in pure SQL: a carried row that failed to cancel, a lost " +
      "delete, a step attributed to the wrong version, or an update " +
      "that surfaced one-sided all break the hash.",
    Some("""
      WITH base AS (SELECT doc_id, n_chars FROM documents),
           upd AS (SELECT doc_id, n_chars FROM base
                   WHERE doc_id BETWEEN 50 AND 59)
      SELECT doc_id, n_chars, 'delete' AS change_type,
             2::BIGINT AS commit_version
      FROM base WHERE doc_id < 50
      UNION ALL SELECT doc_id, n_chars, 'delete', 3::BIGINT FROM upd
      UNION ALL SELECT doc_id, n_chars + 1000, 'insert', 3::BIGINT FROM upd
      UNION ALL SELECT doc_id + 1000000, n_chars, 'insert', 3::BIGINT
      FROM base WHERE doc_id < 5""".stripMargin),
    (spark, dir) => {
      import graft.sources.Snapshots
      val table = graft.TempDirs.create("graft_cdf_q")
      val base = t(spark, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
      Snapshots.publish(base.repartitionByRange(4, col("doc_id")), table)
      Snapshots.deleteWhere(spark, table, col("doc_id") < 50)
      val upd = base.filter(col("doc_id").between(50, 59))
        .select(col("doc_id"), (col("n_chars") + 1000L).as("n_chars"))
      val ins = base.filter(col("doc_id") < 5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("n_chars"))
      Snapshots.merge(spark, table, upd.unionByName(ins), "doc_id")
      Snapshots.changesBetween(spark, table, 1)
        .select(col("doc_id"), col("n_chars"),
          col("_change_type").as("change_type"),
          col("_commit_version").as("commit_version"))
    })

  val statsPrunedScan = Q(
    "src_stats_pruned_scan",
    "MANIFEST-STATS FILE SKIPPING — the metadata-only scan planning " +
      "every production table format lives on: each commit records " +
      "per-file numeric min/max lifted from the parquet footers the " +
      "writer already produced (O(new files) per commit, carried files " +
      "inherit their immutable entries), and a range read consults ONE " +
      "small stats file to skip every file whose [min,max] provably " +
      "cannot intersect the predicate — BEFORE Spark lists or opens " +
      "them. Here documents is published range-clustered on doc_id " +
      "(8 files), and the query reads doc_id IN [10, 299] through " +
      "Snapshots.readRange: the pruned scan opens only the overlapping " +
      "files (SnapshotsStatsSpec pins the strict-subset law, the " +
      "conservative keep-when-stat-less rule, and row-equality with the " +
      "full-scan filter). At 100 TB this is the difference between a " +
      "range query that reads N footers to plan and one that reads a " +
      "manifest: clustered + stats = O(matching files), which is why " +
      "compact/compactZ layout commits and stats pruning are one " +
      "feature, not two. The oracle applies the same predicate to the " +
      "raw table: a file skipped wrongly (row loss) or a bound read " +
      "inclusively/exclusively wrong shows up as drift.",
    Some("""
      SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      FROM documents WHERE doc_id BETWEEN 10 AND 299
      GROUP BY lang""".stripMargin),
    (spark, dir) => {
      import graft.sources.Snapshots
      val table = graft.TempDirs.create("graft_stats_q")
      val base = t(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Snapshots.publish(base.repartitionByRange(8, col("doc_id")), table)
      Snapshots.readRange(spark, table, "doc_id", 10, 299)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
    })

  val zorderPrunedScan = Q(
    "src_zorder_pruned_scan",
    "TWO-DIMENSIONAL FILE SKIPPING ON A Z-ORDERED TABLE — the payoff " +
      "query of the Morton layout: src_stats_pruned_scan's 1-D range " +
      "prune can only skip on the table's one sort key, while a " +
      "Z-ordered table's files bound BOTH curve dimensions, so a 2-D " +
      "box probe (Snapshots.readRanges, conjunctive per-file min/max " +
      "overlap on EVERY range) skips a file on whichever dimension " +
      "excludes it. The pipeline is the full production shape run " +
      "end-to-end: events is published into a snapshot table carrying " +
      "min/max-NORMALIZED curve keys (computed in-plan via a 1-row " +
      "aggregate broadcast cross at write time — raw ids fill a " +
      "fraction of 16 bits and would starve one dimension's high " +
      "bits), compactZ commits the Morton layout as a new version, and " +
      "the read plans a (user_id, event_id) box from the manifest " +
      "stats alone before Spark lists or opens a file. " +
      "SnapshotsStatsSpec pins the skip laws (2-D prune skips files " +
      "the layout localizes, is at least as tight as either single " +
      "dimension, and is row-identical to the full-scan conjunctive " +
      "filter); the oracle applies the same box to the raw table, so " +
      "a wrongly skipped file (row loss) or an inclusive/exclusive " +
      "bound error shows up as drift. At 100 TB this is the " +
      "two-predicate dashboard/point-lookup pattern: O(box-overlapping " +
      "files) instead of O(table).",
    Some("""
      SELECT user_id, count(*)::BIGINT AS n_events,
             sum(event_id)::BIGINT AS sum_eid
      FROM events
      WHERE user_id BETWEEN 3 AND 9 AND event_id BETWEEN 100 AND 799
      GROUP BY user_id""".stripMargin),
    (spark, dir) => {
      import graft.sources.Snapshots
      import org.apache.spark.sql.functions.broadcast
      val table = graft.TempDirs.create("graft_zprune_q")
      val raw = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"))
      // Write-time normalization: order-preserving min/max scale of each
      // dimension into the full 16-bit range morton2 interleaves (the
      // same 1-row stats cross src_zorder_layout documents; it runs once
      // at publish, so the READ plan below contains no cross at all).
      val mm = raw.agg(min(col("user_id")).as("u0"), max(col("user_id")).as("u1"),
        min(col("event_id")).as("e0"), max(col("event_id")).as("e1"))
      val scaled = raw.crossJoin(broadcast(mm))
        .select(col("event_id"), col("user_id"),
          expr("(user_id - u0) * 65535 div greatest(u1 - u0, 1)").as("zu"),
          expr("(event_id - e0) * 65535 div greatest(e1 - e0, 1)").as("ze"))
      Snapshots.publish(scaled.repartition(8), table)
      Snapshots.compactZ(spark, table, 8, col("zu"), col("ze"))
      Snapshots.readRanges(spark, table,
          Seq(("user_id", 3L, 9L), ("event_id", 100L, 799L)))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(col("event_id")).cast("long").as("sum_eid"))
    })

  val deletionVectors = Q(
    "src_deletion_vectors",
    "MERGE-ON-READ DELETES (DELETION VECTORS) — the modern lakehouse " +
      "delete shape and the one that matters at 100 TB: copy-on-write " +
      "(src_snapshot_merge's deleteWhere) rewrites every file that " +
      "holds a matching row, so deleting one row from a 1 GB file " +
      "costs a 1 GB rewrite; Snapshots.deleteWhereDV instead commits " +
      "ONLY a parquet of masked physical addresses (file_name, a " +
      "per-file constant, and row_index, both from the scan's " +
      "_metadata column) — O(matched rows) written, " +
      "ZERO data files moved, fully distributed with no driver row " +
      "collect — and every reader applies the masks as one left-anti " +
      "join (AQE-broadcast while deletes are small; a DV-less version " +
      "reads with zero added operators). The pipeline runs the full " +
      "lifecycle: documents published range-clustered (v1), two " +
      "successive DV deletes (v2, v3 — vectors are cumulative and " +
      "append-shaped: each commit adds one DV parquet, rewriting " +
      "nothing), an APPEND whose new rows the masks must never touch " +
      "(v4), then OPTIMIZE (v5) — the bin-packing small-file " +
      "compaction that PURGES the accumulated masks from the files it " +
      "rewrites, reading them DV-applied. The query reads the " +
      "committed latest; the oracle replays both predicates and the " +
      "append in pure SQL — a mask applied to the wrong file, a " +
      "row_index off-by-one, a resurrected row after optimize, or a " +
      "mask leaking onto appended rows all surface as row/hash drift. " +
      "SnapshotsDvSpec pins the mechanism laws (file list unchanged " +
      "by a DV commit, time-travel undo, re-delete elision, change-" +
      "feed attribution, vacuum retention of masks).",
    Some("""
      WITH base AS (SELECT doc_id, lang, n_chars FROM documents)
      SELECT doc_id, lang, n_chars FROM base
      WHERE doc_id % 10 <> 4 AND n_chars % 7 <> 2
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, 'zz' AS lang, n_chars
      FROM base WHERE doc_id % 100 = 7""".stripMargin),
    (spark, dir) => {
      import graft.sources.Snapshots
      val table = graft.TempDirs.create("graft_dv_q")
      val base = t(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Snapshots.publish(base.repartitionByRange(6, col("doc_id")), table)
      Snapshots.deleteWhereDV(spark, table, col("doc_id") % 10 === 4)
      Snapshots.deleteWhereDV(spark, table, col("n_chars") % 7 === 2)
      val extra = base.filter(col("doc_id") % 100 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          lit("zz").as("lang"), col("n_chars"))
      Snapshots.append(extra, table)
      Snapshots.optimize(spark, table, 256L * 1024 * 1024)
      Snapshots.read(spark, table)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    })

  val metadataCount = Q(
    "src_metadata_count",
    "METADATA-ONLY COUNT(*) — the Iceberg/Delta property that a 100 TB " +
      "table's cardinality is a manifest read, not a scan: every commit " +
      "records per-file footer row counts and per-file DV-masked " +
      "counts in the same stats sidecar the range pruner uses, so " +
      "Snapshots.rowCount answers COUNT(*) for ANY retained version " +
      "from one small TSV without opening a data file. The table " +
      "lives four commits — publish (v1), append (v2), a merge-on-" +
      "read DV delete (v3: counts must SUBTRACT the masked rows " +
      "without a scan), and OPTIMIZE (v4: rewritten files get fresh " +
      "footer counts, purged masks must not be double-subtracted) — " +
      "and the query emits one row per version with its metadata " +
      "count. The oracle recomputes each version's expected " +
      "cardinality in pure SQL: a count taken from the wrong " +
      "version's manifest, a stale masked count surviving a rewrite, " +
      "or an inherited footer count going missing all break exact " +
      "equality. SnapshotsDvSpec additionally pins rowCount == " +
      "read().count() across the whole commit-type matrix.",
    Some("""
      WITH base AS (SELECT doc_id FROM documents),
           n1 AS (SELECT count(*)::BIGINT AS n FROM base),
           napp AS (SELECT count(*)::BIGINT AS n FROM base
                    WHERE doc_id % 100 = 7),
           ndel AS (SELECT count(*)::BIGINT AS n FROM base
                    WHERE doc_id % 10 = 4)
      SELECT 1::BIGINT AS version, (SELECT n FROM n1) AS n_rows
      UNION ALL SELECT 2,
        (SELECT n FROM n1) + (SELECT n FROM napp)
      UNION ALL SELECT 3,
        (SELECT n FROM n1) + (SELECT n FROM napp) - (SELECT n FROM ndel)
      UNION ALL SELECT 4,
        (SELECT n FROM n1) + (SELECT n FROM napp) - (SELECT n FROM ndel)
      """.stripMargin),
    (spark, dir) => {
      import graft.sources.Snapshots
      val table = graft.TempDirs.create("graft_cnt_q")
      val base = t(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Snapshots.publish(base.repartition(6), table)                  // v1
      val extra = base.filter(col("doc_id") % 100 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("lang"), col("n_chars"))
      Snapshots.append(extra, table)                                 // v2
      Snapshots.deleteWhereDV(spark, table,
        col("doc_id") % 10 === 4 && col("doc_id") < 1000000L)        // v3
      Snapshots.optimize(spark, table, 256L * 1024 * 1024)           // v4
      import spark.implicits._
      (1 to Snapshots.latestVersion(table)).map { v =>
        (v.toLong, Snapshots.rowCount(table, Some(v)).get)
      }.toDF("version", "n_rows")
    })

  val restoreCommit = Q(
    "src_restore",
    "RESTORE AS A COMMIT — the rollback verb that completes the table " +
      "lifecycle (Delta RESTORE TABLE ... TO VERSION AS OF): a bad " +
      "write at 100 TB is undone by republishing a retained version's " +
      "exact state — file list, schema, deletion vectors, constraints " +
      "— as a NEW metadata-only commit. Zero bytes of data move " +
      "(files are immutable and shared across manifests), history " +
      "stays intact (the restore is itself undoable), and readers " +
      "flip atomically under the same create-if-absent contract as " +
      "every commit. The pipeline: documents published (v1), a " +
      "merge-on-read DV delete (v2), an append of rows that later " +
      "prove unwanted (v3), then RESTORE to v2 (v4) — the query reads " +
      "the committed latest, and the oracle is v2's exact content: if " +
      "restore dropped the deletion vectors the masked rows " +
      "resurrect, if it resolved the wrong version the v3 rows " +
      "survive, and either breaks the hash. SnapshotsDvSpec " +
      "additionally pins history intactness, metadata-count " +
      "consistency after restore, the no-op/out-of-range edges, and " +
      "the loud failure on a vacuumed target.",
    Some("""
      SELECT doc_id, lang, n_chars FROM documents
      WHERE doc_id % 10 <> 4""".stripMargin),
    (spark, dir) => {
      import graft.sources.Snapshots
      val table = graft.TempDirs.create("graft_restore_q")
      val base = t(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Snapshots.publish(base.repartitionByRange(4, col("doc_id")), table)
      Snapshots.deleteWhereDV(spark, table, col("doc_id") % 10 === 4) // v2
      val extra = base.filter(col("doc_id") % 100 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("lang"), col("n_chars"))
      Snapshots.append(extra, table)                                  // v3
      Snapshots.restore(table, 2)                                     // v4
      Snapshots.read(spark, table)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    })

  val bloomPointRead = Q(
    "src_bloom_point_read",
    "BLOOM-FILTER POINT-READ INDEX — the lookup min/max stats cannot " +
      "serve: a content digest (md5 of the text) is high-cardinality " +
      "and UNCLUSTERED relative to any layout, so every file spans the " +
      "whole digest range and range stats prune nothing — while a " +
      "parquet row-group BLOOM FILTER answers 'definitely not in this " +
      "file' per value with no false negatives. The pipeline runs the " +
      "production lifecycle: documents published with digests (v1), " +
      "ADD BLOOM INDEX on digest as a METADATA-ONLY versioned table " +
      "property (v2 — existing files stay conservatively kept), then " +
      "COMPACT (v3) whose rewrite MATERIALIZES real parquet-mr bloom " +
      "filters (layout maintenance doubles as index build; appends " +
      "after the property carry filters from birth). The query is the " +
      "'which shard holds this document' lookup a dedup pipeline runs " +
      "constantly — Snapshots.readPoint probes each file's filters " +
      "(filter bytes only, never data pages), scans the kept subset, " +
      "and applies the equality as the residual filter where bloom " +
      "false positives die. The oracle recomputes the same digest " +
      "equality in pure SQL (DuckDB's independent md5): a wrongly " +
      "skipped file (row loss — the one unsound failure a bloom read " +
      "can have), a hash mismatch between writer and prober, or a " +
      "residual-filter slip all surface as row drift. BloomIndexSpec " +
      "pins the conservative-keep law, actual skips on digest probes, " +
      "DV interplay, long-typed probes, and drop semantics.",
    Some("""
      WITH d AS (SELECT doc_id, lang, n_chars, md5(text) AS digest
                 FROM documents)
      SELECT doc_id, lang, n_chars, digest FROM d
      WHERE digest = (SELECT md5(text) FROM documents WHERE doc_id = 42)
      """.stripMargin),
    (spark, dir) => {
      import graft.sources.Snapshots
      val table = graft.TempDirs.create("graft_bloom_q")
      val base = t(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("text").cast("binary")).as("digest"))
      Snapshots.publish(base.repartitionByRange(8, col("doc_id")), table)
      Snapshots.addBloomIndex(table, "digest")
      Snapshots.compact(spark, table, 8, col("doc_id"))
      val probe = base.filter(col("doc_id") === 42L)
        .select(col("digest")).first().getString(0)
      Snapshots.readPoint(spark, table, "digest", probe)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("digest"))
    })

  val urlFilter = Q(
    "src_url_filter",
    "URL/DOMAIN FILTERING — the provenance gate every published web " +
      "pipeline runs right after ingest (Gopher/RefinedWeb blocklists, " +
      "C4's domain rules): each capture's URL is parsed with Spark's " +
      "codegen parse_url (HOST + PATH), the registered domain and TLD " +
      "are derived, path depth counted, and the doc is flagged against " +
      "a DOMAIN BLOCKLIST via a broadcast LEFT join — the production " +
      "shape: real blocklists are millions of rows, far beyond an IN " +
      "literal but trivially broadcast-sized next to a 100 TB corpus, " +
      "so the corpus never shuffles (its only exchange is the " +
      "blocklist's BroadcastExchange) — plus a TLD policy rule. URLs " +
      "are synthesized deterministically from doc attributes (the " +
      "corpus carries no URL column; at production the WARC " +
      "request record of src_warc_ingest supplies WARC-Target-URI). " +
      "The oracle re-derives host/domain/TLD/depth with independent " +
      "regex machinery and the blocklist as a VALUES anti-set — a " +
      "parse_url quirk, a substring_index off-by-one, or a join-type " +
      "slip (inner would DROP unblocked docs) shows up as row or " +
      "value drift.",
    Some("""
      WITH u AS (SELECT doc_id,
                        'https://h' || (doc_id % 50) || '.example' ||
                        (doc_id % 7) || '.' ||
                        ['com','org','net','io','edu'][(doc_id % 5)::INT + 1] ||
                        '/' || repeat('p/', (doc_id % 4)::INT) ||
                        'page' || (n_chars % 10) AS url
                 FROM documents),
           p AS (SELECT doc_id, url,
                        regexp_extract(url, '^https://([^/]+)/', 1) AS host,
                        regexp_extract(url, '^https://[^/]+(/.*)$', 1) AS path
                 FROM u),
           d AS (SELECT doc_id, host,
                        regexp_extract(host, '([^.]+[.][^.]+)$', 1) AS domain,
                        regexp_extract(host, '([^.]+)$', 1) AS tld,
                        len(list_filter(string_split(path, '/'),
                                        x -> x <> ''))::BIGINT AS path_depth
                 FROM p)
      SELECT doc_id, host, domain, tld, path_depth,
             (domain IN ('example1.com', 'example2.org', 'example4.io',
                         'example6.net') OR tld = 'io') AS blocked
      FROM d""".stripMargin),
    (spark, dir) => {
      val tlds = array(Seq("com", "org", "net", "io", "edu").map(lit): _*)
      val u = t(spark, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          concat(lit("https://h"), col("doc_id") % 50,
            lit(".example"), col("doc_id") % 7, lit("."),
            element_at(tlds, (col("doc_id") % 5).cast("int") + 1),
            lit("/"),
            expr("repeat('p/', cast(doc_id % 4 as int))"),
            lit("page"), col("n_chars") % 10).as("url"))
      val p = u.select(col("doc_id"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"))
      val d = p.select(col("doc_id"), col("host"),
        substring_index(col("host"), ".", -2).as("domain"),
        substring_index(col("host"), ".", -1).as("tld"),
        size(filter(split(col("path"), "/"), x => x =!= ""))
          .cast("long").as("path_depth"))
      // The domain blocklist: broadcast LEFT join — at production scale
      // this is the multi-million-row list a literal IN cannot hold, and
      // broadcast keeps the corpus side shuffle-free.
      val blocklist = spark.createDataFrame(
        Seq(Tuple1("example1.com"), Tuple1("example2.org"),
          Tuple1("example4.io"), Tuple1("example6.net"))).toDF("domain")
        .withColumn("hit", lit(true))
      d.join(broadcast(blocklist), Seq("domain"), "left")
        .select(col("doc_id"), col("host"), col("domain"), col("tld"),
          col("path_depth"),
          (coalesce(col("hit"), lit(false)) || col("tld") === "io")
            .as("blocked"))
    })

  val webdatasetIngest = Q(
    "src_webdataset_ingest",
    "WEBDATASET SHARD INGEST — the tar-of-samples convention multimodal " +
      "training data actually ships in (shards are .tar.gz archives " +
      "whose member files group into samples by name stem: key.txt + " +
      "key.json + key.jpg): each document's bytes become a real ustar " +
      "archive ({doc}.txt body + {doc}.json metadata) wrapped as a gzip " +
      "member, and graft.sources.Tar walks it all the way down — gzip " +
      "member decode with CRC32/ISIZE verification (the Warc machinery), " +
      "512-byte ustar headers with OCTAL size fields, 'ustar' magic, " +
      "HEADER CHECKSUM validation (checksum bytes read as spaces — a " +
      "flipped header byte rejects loudly instead of mis-sizing every " +
      "later entry), 512-padded data runs, the two-zero-block trailer, " +
      "then sample grouping by stem. The oracle verifies the body " +
      "survives tar+gzip byte-for-byte (exact byte sum) and pins the " +
      "metadata entry's exact serialized length; the structural columns " +
      "pin the entry walk. ASCII contract as mm_pixel_stats. One scan, " +
      "zero exchanges; shard bytes never shuffle — each executor walks " +
      "its own shards, exactly how WebDataset readers scale.",
    Some("""
      WITH d AS (SELECT doc_id, text, lang, n_chars,
                        octet_length(encode(text)) AS len
                 FROM documents
                 WHERE length(text) > 0
                   AND octet_length(encode(text)) = length(text)),
           s AS (SELECT doc_id, sum(ascii(substr(text, (i + 1)::INT, 1)))
                          ::BIGINT AS bsum
                 FROM (SELECT doc_id, text, unnest(range(0, len)) AS i
                       FROM d)
                 GROUP BY doc_id)
      SELECT d.doc_id, 'doc' || d.doc_id AS sample_key, 2::BIGINT AS n_files,
             len::BIGINT AS txt_bytes, s.bsum AS txt_byte_sum,
             (22 + length(lang) + length(n_chars::VARCHAR))::BIGINT
               AS meta_bytes
      FROM d JOIN s ON s.doc_id = d.doc_id""".stripMargin),
    (spark, dir) => {
      import spark.implicits._
      t(spark, dir, "documents")
        .filter(length(col("text")) > 0 &&
          octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
        .as[(Long, String, String, Long)]
        .mapPartitions { it =>
          it.grouped(64).flatMap { batch =>
            batch.map { case (id, text, lang, nChars) =>
              val ascii = java.nio.charset.StandardCharsets.US_ASCII
              val shard = graft.sources.Tar.encodeSampleShard(s"doc$id",
                text.getBytes(ascii),
                s"""{"lang":"$lang","n_chars":$nChars}""".getBytes(ascii))
              val smp = graft.sources.Tar.decodeSampleShard(shard)
              WdsFeatures(id, smp.key, smp.nFiles.toLong, smp.txtBytes,
                smp.txtByteSum, smp.metaBytes)
            }
          }
        }
        .toDF()
        .select(col("doc_id"), col("sample_key"), col("n_files"),
          col("txt_bytes"), col("txt_byte_sum"), col("meta_bytes"))
    })

  val zipIngest = Q(
    "src_zip_ingest",
    "ZIP ARCHIVE INGEST — the third real archive family (after WARC/gzip " +
      "and WebDataset/ustar), and the one public datasets are most often " +
      "DISTRIBUTED in (Kaggle exports, HF dataset zips): each document " +
      "becomes a real PKZIP archive ({doc}.txt DEFLATED + {doc}.json " +
      "STORED — both methods in every archive), and graft.sources.Zip " +
      "walks it the way ZIP is meant to be read: END-anchored — EOCD " +
      "backward signature scan with the comment-length consistency check " +
      "(a payload byte pattern cannot hijack the parse), central " +
      "directory walk with count/size cross-checks against the EOCD " +
      "totals, per-member LOCAL-header re-validation (signature + name " +
      "must match the central record — a desynced offset rejects instead " +
      "of decoding garbage), raw-Inflater deflate decode, CRC32 + " +
      "uncompressed-size verification per member. The central-directory-" +
      "first read is also the 100 TB story: an executor inventories a " +
      "shard from its tail and fetches only wanted members. The oracle " +
      "verifies the body survives deflate+zip byte-for-byte (exact byte " +
      "sum) and pins the metadata entry's serialized length; ZipSpec " +
      "differentials run both ways against the JDK's independent " +
      "java.util.zip coder. ASCII contract as mm_pixel_stats. One scan, " +
      "zero exchanges; archive bytes never shuffle.",
    Some("""
      WITH d AS (SELECT doc_id, text, lang, n_chars,
                        octet_length(encode(text)) AS len
                 FROM documents
                 WHERE length(text) > 0
                   AND octet_length(encode(text)) = length(text)),
           s AS (SELECT doc_id, sum(ascii(substr(text, (i + 1)::INT, 1)))
                          ::BIGINT AS bsum
                 FROM (SELECT doc_id, text, unnest(range(0, len)) AS i
                       FROM d)
                 GROUP BY doc_id)
      SELECT d.doc_id, 'doc' || d.doc_id AS sample_key, 2::BIGINT AS n_files,
             len::BIGINT AS txt_bytes, s.bsum AS txt_byte_sum,
             (22 + length(lang) + length(n_chars::VARCHAR))::BIGINT
               AS meta_bytes
      FROM d JOIN s ON s.doc_id = d.doc_id""".stripMargin),
    (spark, dir) => {
      import spark.implicits._
      t(spark, dir, "documents")
        .filter(length(col("text")) > 0 &&
          octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
        .as[(Long, String, String, Long)]
        .mapPartitions { it =>
          it.grouped(64).flatMap { batch =>
            batch.map { case (id, text, lang, nChars) =>
              val ascii = java.nio.charset.StandardCharsets.US_ASCII
              val shard = graft.sources.Zip.encodeSampleZip(s"doc$id",
                text.getBytes(ascii),
                s"""{"lang":"$lang","n_chars":$nChars}""".getBytes(ascii))
              val smp = graft.sources.Zip.decodeSampleZip(shard)
              ZipFeatures(id, smp.key, smp.nFiles.toLong, smp.txtBytes,
                smp.txtByteSum, smp.metaBytes)
            }
          }
        }
        .toDF()
        .select(col("doc_id"), col("sample_key"), col("n_files"),
          col("txt_bytes"), col("txt_byte_sum"), col("meta_bytes"))
    })

  val dsirSelect = Q(
    "pipeline_dsir_select",
    "Data Selection via Importance Resampling (DSIR, Xie et al. 2023) — " +
      "the importance-weight data-selection pass: score every corpus doc " +
      "by how much more likely its tokens are under a TARGET-domain " +
      "unigram LM (here the lang='en' slice — production points this at " +
      "a curated reference corpus) than under the raw-corpus LM, " +
      "average log importance ratio per token with add-1 smoothing over " +
      "the shared vocabulary, then keep the top-50 (rounded score desc, " +
      "doc_id tie-break — TakeOrdered, never a global sort). ONE token " +
      "explosion builds (doc, lang, word, c); BOTH distributions derive " +
      "from that frame (no second corpus scan), the per-word log-ratio " +
      "lexicon joins back by word — a genuine shuffle join, the " +
      "vocabulary is not broadcastable at 100 TB (unigram_logprob's " +
      "stance) — and the (N_tgt, N_raw, |V|) totals broadcast as a " +
      "1-row aggregate. ln over identical exact-integer-derived doubles " +
      "is libm-identical; summation-order noise is absorbed by the " +
      "epsilon-shifted rounding the rank orders on.",
    Some("""
      WITH w AS (
        SELECT doc_id, lang,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        FROM documents),
           tf AS (SELECT doc_id, lang, word, count(*)::BIGINT AS c
                  FROM w GROUP BY doc_id, lang, word),
           lex AS (SELECT word, sum(c)::BIGINT AS craw,
                          sum(CASE WHEN lang = 'en' THEN c ELSE 0 END)::BIGINT AS ctgt
                   FROM tf GROUP BY word),
           tot AS (SELECT sum(craw)::BIGINT AS nraw, sum(ctgt)::BIGINT AS ntgt,
                          count(*)::BIGINT AS v
                   FROM lex),
           lr AS (SELECT word,
                         ln(ctgt + 1.0) - ln(1.0 * (ntgt + v))
                           - ln(craw + 1.0) + ln(1.0 * (nraw + v)) AS lr
                  FROM lex, tot),
           d AS (SELECT doc_id, lang, sum(c)::BIGINT AS n_tokens,
                        sum(c * lr) AS s
                 FROM tf JOIN lr ON lr.word = tf.word
                 GROUP BY doc_id, lang)
      SELECT doc_id, lang, n_tokens,
             round(s / n_tokens + 1e-8, 4) AS dsir_score
      FROM d
      ORDER BY dsir_score DESC, doc_id ASC
      LIMIT 50""".stripMargin),
    (spark, dir) => {
      val tf = Q.materialize(
        t(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), explode(toksCol).as("word"))
          .groupBy(col("doc_id"), col("lang"), col("word"))
          .agg(count(lit(1)).cast("long").as("c")))
      // Both distributions in ONE vocabulary-sized aggregation: the
      // target count is a conditional sum, not a second join.
      val lex = Q.materialize(tf
        .groupBy(col("word"))
        .agg(sum(col("c")).cast("long").as("craw"),
          sum(when(col("lang") === "en", col("c")).otherwise(0L))
            .cast("long").as("ctgt")))
      val tot = lex.agg(sum(col("craw")).cast("long").as("nraw"),
        sum(col("ctgt")).cast("long").as("ntgt"),
        count(lit(1)).cast("long").as("v"))
      val lr = lex.crossJoin(broadcast(tot))
        .select(col("word"),
          (log(col("ctgt") + lit(1.0)) -
            log((col("ntgt") + col("v")).cast("double")) -
            log(col("craw") + lit(1.0)) +
            log((col("nraw") + col("v")).cast("double"))).as("lr"))
      tf.join(lr, "word")
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("c")).cast("long").as("n_tokens"),
          sum(col("c") * col("lr")).as("s"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          Det.r4e(col("s") / col("n_tokens")).as("dsir_score"))
        .orderBy(col("dsir_score").desc, col("doc_id").asc)
        .limit(50)
    })

  val novelty = Q(
    "ta_novelty",
    "INCREMENTAL NOVELTY CENSUS — the continual-pretraining question: " +
      "how much genuinely NEW content does each successive document " +
      "(doc_id order = arrival order) add to the corpus? Per doc, the " +
      "fraction of its distinct 3-word shingles whose GLOBAL first " +
      "occurrence (min doc_id across the corpus) is this document — " +
      "the number that justifies a re-crawl cadence or an " +
      "incremental-dedup budget (a snapshot at 5% novelty is mostly " +
      "paying to re-tokenize what the model has seen). Plan: one " +
      "shingle explosion collapsed to the distinct (doc, shingle-md5) " +
      "frame (text never shuffles — the dedup_exact rule), a " +
      "shingle-keyed min-doc aggregation, the first-occurrence frame " +
      "joined back BY KEY (the vocabulary-join shape: shingle " +
      "vocabularies are corpus-sized, never broadcastable), and a " +
      "doc-keyed census. All exchanges carry fixed-width digests — " +
      "the honest 100 TB shape shared with ta_tfidf's df join.",
    Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           sh AS (SELECT DISTINCT doc_id,
                         md5(array_to_string(
                           list_slice(ws, (i+1)::INT, (i+3)::INT), ' ')) AS s
                  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 2)) AS i
                        FROM d WHERE len(ws) >= 3)),
           f AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s)
      SELECT sh.doc_id, count(*)::BIGINT AS n_shingles,
             sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)::BIGINT
               AS n_novel,
             round(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
               / count(*)::DOUBLE + 1e-8, 4) AS novelty4
      FROM sh JOIN f USING (s) GROUP BY sh.doc_id""".stripMargin),
    (spark, dir) => {
      // Fanned scan (round 13): per-position 3-shingle explode + md5 —
      // expansion-heavy map work (A/B −0.41 s at sf0.1, pass-through at
      // scale).
      val sh = Q.materialize(Tables.fanned(spark, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"),
          explode(expr("transform(sequence(0, size(ws) - 3), " +
            "i -> md5(concat_ws(' ', slice(ws, int(i + 1), 3))))")).as("s"))
        .distinct())
      val f = sh.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
      sh.join(f, "s")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .cast("long").as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          round(col("n_novel") / col("n_shingles").cast("double")
            + lit(1e-8), 4).as("novelty4"))
    })

  val all: Seq[Q] = Seq(repetition, spanDedup, decontaminate, cdcDedup,
    bloomIncremental, upsert, cmsTopk, warcIngest, urlFilter,
    webdatasetIngest, zipIngest, dsirSelect, zorderLayout, novelty,
    snapshotMerge, schemaEvolution, bucketedJoin, incrementalAgg,
    changeFeed, statsPrunedScan, zorderPrunedScan,
    deletionVectors, metadataCount, restoreCommit, bloomPointRead)
}
