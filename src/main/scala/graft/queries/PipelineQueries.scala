package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline queries over the `documents` / `embeddings` /
  * `events` tables (beyond the reference's own operator set — these are the
  * large-scale data-curation operators the north star asks for): exact and
  * fuzzy deduplication, similarity search, text analysis.
  *
  * Every query here is designed 100 TB-first: hash-bucketed joins (never
  * all-pairs), map-side partial aggregation, pure column expressions (no
  * per-row Scala UDFs), and DuckDB-expressible semantics for the oracle gate.
  */
object PipelineQueries {

  private[queries] def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private[queries] def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** The events table's `ts` physical type has varied across testdata
    * generations (TIMESTAMP(NANOS) — unsupported by Spark's reader natively —
    * vs plain TIMESTAMP(MICROS), with or without UTC adjustment). Normalize
    * to ONE logical contract every consumer relies on: `ts` = epoch NANOS as
    * BIGINT, so `ts div 1000` is epoch micros and matches DuckDB's
    * `epoch_us(ts)` exactly (DuckDB reads both generations at µs precision;
    * naive timestamps are interpreted as UTC on both sides.
    *
    * SESSION CONTRACT (set at session construction, NOT here — a reader must
    * not mutate shared session state as a side effect): every entry point
    * that can reach an event-family query (Bench, Verify, Smoke, Explain,
    * TestSpark) builds its session with
    * `spark.sql.session.timeZone=UTC` and
    * `spark.sql.legacy.parquet.nanosAsLong=true`. */
  private[queries] def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val df = s.read.parquet(s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case LongType => df // TIMESTAMP(NANOS) read as raw nanos via the conf
      case _ => df.withColumn("ts",
        unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
    }
  }

  import graft.operators.TextOps

  // ------------------------------------------------------------------ text

  /** SQL list literal for a stopword profile. */
  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString(", ")

  /** DuckDB occurrence count of profile words among the tokens column `w`. */
  private def hitSql(ws: Seq[String]): String =
    s"len(list_filter(w, t -> t IN (${sqlList(ws)})))"

  /** DuckDB argmax-with-priority-tiebreak over the per-language scores
    * s_<lang> — the same logic as [[TextOps.langArgmaxCol]]. */
  private val langCaseSql: String = {
    val langs = TextOps.LangProfiles.map(_._1)
    val arms = langs.zipWithIndex.map { case (l, i) =>
      val earlier = langs.take(i).map(e => s"s_$l > s_$e")
      val later   = langs.drop(i + 1).map(e => s"s_$l >= s_$e")
      val cond = (earlier ++ later).mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }
    s"CASE ${arms.mkString(" ")} ELSE '${langs.head}' END"
  }

  // Lazy: the oracle SQL interpolates helpers declared below this list.
  lazy val gates: Seq[Gate] = Seq(
    Gate("txt_stats", (s, d) =>
      docs(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text")))).as("tok_sum"),
          sum(length(col("text"))).as("char_sum"),
          countDistinct(col("lang")).as("lang_cnt")),
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok_sum,
        |CAST(SUM(len(text)) AS BIGINT) AS char_sum,
        |CAST(COUNT(DISTINCT lang) AS BIGINT) AS lang_cnt
        |FROM documents GROUP BY source""".stripMargin),

    Gate("txt_langid", (s, d) =>
      TextOps.langIdDF(docs(s, d), "text")
        .groupBy("predicted").agg(count(lit(1)).as("cnt")),
      s"""WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
         |sc AS (SELECT $langScores FROM t)
         |SELECT $langCaseSql AS predicted, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM sc GROUP BY 1""".stripMargin),

    Gate("txt_quality", (s, d) =>
      docs(s, d)
        .select(TextOps.qualityScoreCol(col("text")).as("score"))
        .groupBy("score").agg(count(lit(1)).as("cnt"))
        .select(col("score").cast("long").as("score"), col("cnt")),
      s"""WITH t AS (SELECT text, string_split(text, ' ') AS w, len(text) AS nc FROM documents),
         |f AS (SELECT
         |  $scoreSql
         |  AS score FROM t)
         |SELECT CAST(score AS BIGINT) AS score, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM f GROUP BY 1""".stripMargin),

    Gate("tok_count", (s, d) =>
      docs(s, d)
        .groupBy("lang")
        .agg(
          sum(regexp_count(col("text"), lit("[a-z0-9]+"))).as("alnum_cnt"),
          sum(regexp_count(col("text"), lit("[^a-z0-9 ]"))).as("other_cnt")),
      """SELECT lang,
        |CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS alnum_cnt,
        |CAST(SUM(len(regexp_extract_all(text, '[^a-z0-9 ]'))) AS BIGINT) AS other_cnt
        |FROM documents GROUP BY lang""".stripMargin),

    Gate("txt_fingerprint", (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          TextOps.fingerprintCol(col("text"), 5).as("fp")),
      """SELECT doc_id, CASE WHEN len(w) >= 5 THEN
        |  list_min([md5(array_to_string(w[i:i+4], ' ')) for i in range(1, len(w) - 3)])
        |END AS fp
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)""".stripMargin),

    // Sliding-window chunking (32-token windows every 24): per-source chunk
    // accounting plus a content checksum over every chunk's text — the
    // checksum makes the gate sensitive to the chunk BOUNDARIES and token
    // content, not just the counts.
    // txt_chunks: replay the window arithmetic — starts every 24 tokens,
    // last window the first to reach the end, slice + join per chunk.
    Gate("txt_chunks", (s, d) =>
      TextOps.chunkRows(docs(s, d), "doc_id", 32, 24)
        .join(docs(s, d).select(col("doc_id").as("id"), col("source")), "id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(when(col("n_tokens") < 32, 1L).otherwise(0L)).as("n_partial"),
          max(col("chunk_idx")).as("max_idx"),
          sum(ascii(substring(md5(col("chunk_text")), 1, 1)).cast("long")
            + ascii(substring(md5(col("chunk_text")), 2, 1))).as("chk")),
      """WITH t AS (SELECT doc_id, source,
        |  list_filter(string_split(text, ' '), x -> len(x) > 0) AS w FROM documents),
        |n AS (SELECT doc_id, source, w, len(w) AS n,
        |  CASE WHEN len(w) > 32 THEN 1 + (len(w) - 32 + 23) // 24
        |       WHEN len(w) > 0 THEN 1 ELSE 0 END AS nc FROM t),
        |c AS (SELECT doc_id, source, n,
        |  unnest(range(0, nc)) AS i,
        |  w FROM n WHERE nc > 0),
        |x AS (SELECT source,
        |  LEAST(32, n - i * 24) AS n_tokens, i,
        |  array_to_string(w[i * 24 + 1 : i * 24 + LEAST(32, n - i * 24)], ' ') AS ct
        |  FROM c)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(CASE WHEN n_tokens < 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_partial,
        |  CAST(MAX(i) AS BIGINT) AS max_idx,
        |  CAST(SUM(ascii(substr(md5(ct), 1, 1)) + ascii(substr(md5(ct), 2, 1))) AS BIGINT) AS chk
        |FROM x GROUP BY source""".stripMargin),

    // Repetition-decile histogram: per-doc top-token share bucketed to
    // ⌊10·top/total⌋ (explicit floor on doubles — same value both engines).
    Gate("txt_repetition", (s, d) =>
      TextOps.topTokenStats(docs(s, d), "doc_id")
        .select(floor(col("top_cnt") * lit(10.0) / col("tok_cnt")).as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("cnt")),
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
        |g AS (SELECT doc_id, MAX(c) AS top, SUM(c) AS n FROM f GROUP BY 1)
        |SELECT CAST(FLOOR(top * 10.0 / n) AS BIGINT) AS decile,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM g GROUP BY 1""".stripMargin),

    // Per-source top-5 distinctive terms by integer TF-IDF (tf·10⁶ div df,
    // lexicographic tiebreak) — the corpus-fingerprinting signal curation
    // dashboards sort sources by.
    Gate("corp_tfidf", (s, d) =>
      graft.operators.CorpusOps.tfidfTopTerms(docs(s, d), "doc_id", "source", 5),
      """WITH dt AS (SELECT DISTINCT doc_id, source, tok FROM
        |  (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents)),
        |dfq AS (SELECT tok, COUNT(*) AS df FROM dt GROUP BY tok),
        |tfq AS (SELECT source, tok, COUNT(*) AS tf FROM dt GROUP BY source, tok),
        |sc AS (SELECT source, tok, (tf * 1000000) // df AS score FROM tfq JOIN dfq USING (tok)),
        |r AS (SELECT source, tok, score,
        |  row_number() OVER (PARTITION BY source ORDER BY score DESC, tok) AS rnk FROM sc)
        |SELECT source, tok, CAST(score AS BIGINT) AS score, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 5""".stripMargin),

    // KMV distinct-3-gram-shingle sketch per source (k = 64 minimum md5
    // values, 56-bit integer estimator) alongside the exact count — the
    // bounded-state answer to "how diverse is each source".
    // Replays kmvDistinct: the k-th (64th) smallest distinct shingle md5 per
    // source via row_number, the 56-bit value from the first 14 hex chars
    // (constants BIGINT-cast — DuckDB folds bare INT32 products), estimator
    // (k-1)·2^56 // v_k. LEFT JOIN so a never-saturated sketch reads as a
    // null estimate (matching Spark) instead of a dropped group.
    Gate("corp_kmv", (s, d) =>
      graft.operators.CorpusOps.kmvDistinct(docs(s, d), "source", 3, 64), {
      val vk = (1 to 14).map(j =>
        s"${hexvalSql(s"substr(h,$j,1)")} * CAST(${BigInt(16).pow(14 - j)} AS BIGINT)")
        .mkString(" + ")
      s"""WITH sh AS (SELECT DISTINCT source, md5(s) AS h FROM
         |  (SELECT source, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
         |   FROM (SELECT source, string_split(text, ' ') AS w FROM documents))),
         |r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM sh),
         |k AS (SELECT source, CAST($vk AS BIGINT) AS vk FROM r WHERE rn = 64),
         |ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact FROM sh GROUP BY source)
         |SELECT source, CAST((63 * 72057594037927936) // vk AS BIGINT) AS est_distinct, n_exact
         |FROM ex LEFT JOIN k USING (source)""".stripMargin
    }),

    // Repeated 8-token span stats per source — the cross-document
    // contamination (boilerplate / leakage) monitor.
    Gate("corp_spans", (s, d) =>
      graft.operators.CorpusOps.spanStats(docs(s, d), "doc_id", "source", 8),
      """WITH sp AS (SELECT doc_id, source,
        |  unnest([md5(array_to_string(w[i:i+7], ' ')) for i in range(1, len(w) - 6)]) AS sh
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)),
        |dd AS (SELECT sh, COUNT(DISTINCT doc_id) AS ndocs FROM sp GROUP BY sh)
        |SELECT sp.source, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |  CAST(SUM(CASE WHEN dd.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_instances,
        |  CAST(COUNT(DISTINCT CASE WHEN dd.ndocs > 1 THEN sp.sh END) AS BIGINT) AS n_dup_spans
        |FROM sp JOIN dd USING (sh) GROUP BY sp.source""".stripMargin),

    // Exact heavy-hitter tokens (count > N/65) via the two-pass Misra-Gries
    // candidate sketch + broadcast recount — bounded-state top tokens.
    Gate("heavy_tokens", (s, d) =>
      graft.operators.CorpusOps.heavyHitters(
        docs(s, d).select(explode(TextOps.tokens(col("text"))).as("tok")),
        "tok", 64),
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
        |n AS (SELECT COUNT(*) AS total FROM t)
        |SELECT tok, CAST(cnt AS BIGINT) AS cnt FROM c, n WHERE cnt * 65 > total""".stripMargin),

    // PII detection + redaction over the corpus plus planted probe rows
    // (the synthetic corpus is PII-free — wire_parse-style probes make the
    // gate meaningful): staged counts and the md5 of the redacted text for
    // every doc containing any PII.
    // Built from the same PiiProbes/pattern constants as the Spark query so
    // the two surfaces cannot drift.
    Gate("pii_redact", (s, d) => {
      import s.implicits._
      val probes = PiiProbes.toDF("doc_id", "text")
      val all = docs(s, d).select(col("doc_id"), col("text")).unionAll(probes)
      all.select(col("doc_id") +: TextOps.piiCountCols(col("text")) :+
          md5(TextOps.redactPiiCol(col("text"))).as("redacted_md5"): _*)
        .filter(col("n_url") + col("n_email") + col("n_phone") > 0)
    }, {
      val vals = PiiProbes.map { case (id, t) => s"($id, '$t')" }.mkString(", ")
      val (u, e, p) = (TextOps.UrlRe, TextOps.EmailRe, TextOps.PhoneRe)
      s"""WITH allt AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $vals) v(doc_id, text)),
         |st AS (SELECT doc_id, text, regexp_replace(text, '$u', '<URL>', 'g') AS a_url FROM allt),
         |st2 AS (SELECT doc_id, text, a_url,
         |  regexp_replace(a_url, '$e', '<EMAIL>', 'g') AS a_email FROM st)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$u')) AS BIGINT) AS n_url,
         |  CAST(len(regexp_extract_all(a_url, '$e')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(a_email, '$p')) AS BIGINT) AS n_phone,
         |  md5(regexp_replace(a_email, '$p', '<PHONE>', 'g')) AS redacted_md5
         |FROM st2
         |WHERE len(regexp_extract_all(text, '$u')) + len(regexp_extract_all(a_url, '$e'))
         |    + len(regexp_extract_all(a_email, '$p')) > 0""".stripMargin
    }),

    // Benchmark decontamination: train docs (source != src0) sharing any
    // 8-token span with the eval set (source = src0), with distinct-span
    // hit counts — the "remove eval leakage before training" pass.
    Gate("decontam", (s, d) => {
      val dd = docs(s, d)
      graft.operators.CorpusOps.decontaminate(
        dd.filter(col("source") =!= "src0"),
        dd.filter(col("source") === "src0"), "doc_id", 8)
    },
      """WITH tr AS (SELECT DISTINCT doc_id,
        |  unnest([md5(array_to_string(w[i:i+7], ' ')) for i in range(1, len(w) - 6)]) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE source != 'src0')),
        |ev AS (SELECT DISTINCT
        |  unnest([md5(array_to_string(w[i:i+7], ' ')) for i in range(1, len(w) - 6)]) AS sh
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE source = 'src0'))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |FROM tr JOIN ev USING (sh) GROUP BY doc_id""".stripMargin),

    // Fixed-size Bloom-filter decontamination with false-positive
    // accounting against the exact semi-join: the 65536-bit filter of
    // src0's 8-token spans flags train docs; bloom ⊇ exact always, and
    // the gap is the measured cost of the constant-size broadcast. Every
    // hash position is engine-neutral md5-hex arithmetic, so the oracle
    // replays even the false positives.
    // bloom_decontam: replays the three 4-hex-window md5 folds, the
    // distinct-position bitset, and both flag branches.
    Gate("bloom_decontam", (s, d) => {
      val dd = docs(s, d)
      graft.operators.BloomOps.bloomDecontam(
        dd.filter(col("source") =!= "src0"),
        dd.filter(col("source") === "src0"), "doc_id", 8)
    }, {
      def posSql(off: Int): String =
        s"(${hexvalSql(s"substr(h,$off,1)")}*4096 + ${hexvalSql(s"substr(h,${off + 1},1)")}*256" +
          s" + ${hexvalSql(s"substr(h,${off + 2},1)")}*16 + ${hexvalSql(s"substr(h,${off + 3},1)")})"
      val inPos = Seq(1, 9, 17)
        .map(o => s"${posSql(o)} IN (SELECT p FROM pos)").mkString(" AND ")
      s"""WITH tr AS (SELECT DISTINCT doc_id,
         |  unnest([md5(array_to_string(w[i:i+7], ' ')) for i in range(1, len(w) - 6)]) AS h
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE source != 'src0')),
         |ev AS (SELECT DISTINCT
         |  unnest([md5(array_to_string(w[i:i+7], ' ')) for i in range(1, len(w) - 6)]) AS h
         |  FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE source = 'src0')),
         |pos AS (SELECT DISTINCT unnest([${Seq(1, 9, 17).map(posSql).mkString(", ")}]) AS p FROM ev),
         |per AS (SELECT doc_id,
         |  MAX(CASE WHEN $inPos THEN 1 ELSE 0 END) AS b,
         |  MAX(CASE WHEN h IN (SELECT h FROM ev) THEN 1 ELSE 0 END) AS e
         |  FROM tr GROUP BY 1)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_train_docs,
         |  CAST(SUM(b) AS BIGINT) AS n_flagged_bloom,
         |  CAST(SUM(e) AS BIGINT) AS n_flagged_exact,
         |  CAST(SUM(b) - SUM(e) AS BIGINT) AS n_false_pos,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pos) AS n_bits_set
         |FROM per""".stripMargin
    }),

    // Exact discrete length quantiles per source via the bounded
    // histogram+cumsum shape (no per-group value collection).
    Gate("txt_len_quantiles", (s, d) =>
      graft.operators.CorpusOps.discQuantiles(
        docs(s, d), "source", "n_chars", Seq(25, 50, 75, 95)),
      """WITH h AS (SELECT source, n_chars AS v, COUNT(*) AS c FROM documents GROUP BY 1, 2),
        |cum AS (SELECT source, v, SUM(c) OVER (PARTITION BY source ORDER BY v) AS cum,
        |  SUM(c) OVER (PARTITION BY source) AS n FROM h)
        |SELECT source,
        |  CAST(MIN(CASE WHEN cum*100 >= n*25 THEN v END) AS BIGINT) AS p25,
        |  CAST(MIN(CASE WHEN cum*100 >= n*50 THEN v END) AS BIGINT) AS p50,
        |  CAST(MIN(CASE WHEN cum*100 >= n*75 THEN v END) AS BIGINT) AS p75,
        |  CAST(MIN(CASE WHEN cum*100 >= n*95 THEN v END) AS BIGINT) AS p95
        |FROM cum GROUP BY source""".stripMargin),

    // Cross-source span-overlap matrix (8-token spans) — which sources
    // duplicate each other; the mixture-design contamination signal.
    Gate("corp_overlap", (s, d) =>
      graft.operators.CorpusOps.sourceOverlap(docs(s, d), "source", 8),
      """WITH sp AS (SELECT DISTINCT source,
        |  unnest([md5(array_to_string(w[i:i+7], ' ')) for i in range(1, len(w) - 6)]) AS sh
        |  FROM (SELECT source, string_split(text, ' ') AS w FROM documents))
        |SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM sp a JOIN sp b ON a.sh = b.sh AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin),

    // Unigram-surprisal band histogram — perplexity-filter stand-in built
    // from the corpus' own token statistics, integer-exact.
    Gate("txt_surprisal", (s, d) =>
      graft.operators.CorpusOps.surprisalBands(docs(s, d), "doc_id"),
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |dt AS (SELECT doc_id, tok, COUNT(*) AS c_dt FROM t GROUP BY 1, 2),
        |tc AS (SELECT tok, SUM(c_dt) AS cnt FROM dt GROUP BY tok),
        |n AS (SELECT SUM(cnt) AS total FROM tc),
        |sc AS (SELECT dt.doc_id,
        |  SUM(dt.c_dt * ((1000000 * n.total) // tc.cnt)) AS score,
        |  SUM(dt.c_dt) AS ntok
        |  FROM dt JOIN tc USING (tok), n GROUP BY dt.doc_id)
        |SELECT CAST((score // ntok) // 10000000 AS BIGINT) AS band,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM sc GROUP BY 1""".stripMargin),

    // Source-drift decile histogram between src0 and src1 — smoothed
    // per-million token-frequency ratios, the re-crawl shift monitor.
    Gate("corp_drift", (s, d) =>
      graft.operators.CorpusOps.corpDrift(docs(s, d), "source", "src0", "src1"),
      """WITH t AS (SELECT source AS g, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |c AS (SELECT tok, SUM(CASE WHEN g = 'src0' THEN 1 ELSE 0 END) AS ca,
        |             SUM(CASE WHEN g = 'src1' THEN 1 ELSE 0 END) AS cb FROM t GROUP BY tok),
        |tt AS (SELECT SUM(ca) AS ta, SUM(cb) AS tb FROM c),
        |f AS (SELECT tok, (ca * 1000000) // ta AS fa, (cb * 1000000) // tb AS fb FROM c, tt)
        |SELECT CAST((((fa + 1) * 100) // (fb + 1)) // 10 AS BIGINT) AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens
        |FROM f GROUP BY 1""".stripMargin),

    // Hierarchical corpus accounting in ONE pass: per-(source, lang),
    // per-source subtotals, and the grand total via Spark's native rollup
    // (partial-aggregated like any groupBy — no per-level re-scans).
    Gate("txt_rollup", (s, d) =>
      docs(s, d)
        .rollup("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("char_sum"))
        .select(coalesce(col("source"), lit("ALL")).as("source"),
          coalesce(col("lang"), lit("ALL")).as("lang"),
          col("n_docs"), col("char_sum")),
      """SELECT COALESCE(source, 'ALL') AS source, COALESCE(lang, 'ALL') AS lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(len(text)) AS BIGINT) AS char_sum
        |FROM documents GROUP BY ROLLUP(source, lang)""".stripMargin),

    // BPE merge-table training: 8 merges learned from the corpus'
    // whitespace tokens, from characters up — overlap-inclusive pair
    // counts, (cnt desc, pair asc) winner, greedy non-overlapping
    // application via window parity. The oracle replays every round.
    Gate("bpe_merges", (s, d) =>
      graft.operators.BpeOps.bpeMerges(docs(s, d), BpeSteps),
      s"""WITH $bpeCteSql
         |SELECT CAST(step AS BIGINT) AS step, lhs, rhs, CAST(c AS BIGINT) AS cnt
         |FROM merges""".stripMargin),

    // The tokenizer's subword vocabulary after those 8 merges — every
    // symbol the segmented corpus uses with its total occurrence count.
    Gate("bpe_vocab", (s, d) =>
      graft.operators.BpeOps.bpeVocab(docs(s, d), BpeSteps),
      s"""WITH $bpeCteSql
         |SELECT s AS subword, CAST(SUM(freq) AS BIGINT) AS cnt
         |FROM (SELECT unnest(syms) AS s, freq FROM w$BpeSteps) GROUP BY 1""".stripMargin),

    // Per-document token counts under the TRAINED tokenizer (sum of each
    // word's segmented length) — the packing/cost budget number.
    Gate("bpe_doc_tokens", (s, d) =>
      graft.operators.BpeOps.bpeDocTokens(docs(s, d), "doc_id", BpeSteps),
      s"""WITH $bpeCteSql,
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |SELECT t.doc_id, CAST(SUM(len(f.syms)) AS BIGINT) AS n_subtokens
         |FROM toks t JOIN w$BpeSteps f ON t.w = f.w GROUP BY 1""".stripMargin),

    // Tokenizer FERTILITY per language under the trained BPE: characters
    // per subword token (milli-units, floor) — the compression-efficiency
    // readout that tells you which languages a tokenizer shortchanges.
    // bpe_fertility: the shared BPE training chain + per-lang chars /
    // subtokens with a floor milli-unit quotient (all positive — Spark
    // div and DuckDB // agree).
    Gate("bpe_fertility", (s, d) =>
      docs(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        .join(graft.operators.BpeOps.bpeDocTokens(docs(s, d), "doc_id", BpeSteps),
          "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          sum("n_subtokens").as("sum_subtokens"))
        .withColumn("fertility_milli",
          expr("(1000 * sum_chars) div sum_subtokens")),
      s"""WITH $bpeCteSql,
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |dt AS (SELECT t.doc_id, SUM(len(f.syms)) AS n_subtokens
         |  FROM toks t JOIN w$BpeSteps f ON t.w = f.w GROUP BY 1)
         |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
         |  CAST(SUM(dt.n_subtokens) AS BIGINT) AS sum_subtokens,
         |  CAST((1000 * SUM(d.n_chars)) // SUM(dt.n_subtokens) AS BIGINT) AS fertility_milli
         |FROM documents d JOIN dt ON dt.doc_id = d.doc_id
         |GROUP BY 1""".stripMargin),

    // Semi-structured extraction: the events props column is JSON; group
    // stats over its integer field k per event type (missing/malformed
    // payloads -> NULL, excluded by COUNT(k)/SUM like the oracle).
    Gate("evt_props", (s, d) =>
      events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_k"), sum("k").as("k_sum"),
          min("k").as("k_min"), max("k").as("k_max")),
      """SELECT event_type, CAST(COUNT(k) AS BIGINT) AS n_k,
        |  CAST(SUM(k) AS BIGINT) AS k_sum, CAST(MIN(k) AS BIGINT) AS k_min,
        |  CAST(MAX(k) AS BIGINT) AS k_max
        |FROM (SELECT event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY 1""".stripMargin),

    // Exact two-sample KS distance between src0's and src1's document-
    // length distributions (integer cross-multiplied numerator over the
    // common nA*nB denominator) — the distribution-level drift monitor.
    Gate("corp_ks", (s, d) =>
      graft.operators.CorpusOps.ksDrift(docs(s, d), "source", "n_chars",
        "src0", "src1"),
      """WITH h AS (SELECT CAST(n_chars AS BIGINT) AS v,
        |  SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ca,
        |  SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS cb
        |  FROM documents WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL
        |  GROUP BY 1),
        |c AS (SELECT v, SUM(ca) OVER (ORDER BY v) AS cum_a,
        |             SUM(cb) OVER (ORDER BY v) AS cum_b FROM h),
        |t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM h),
        |g AS (SELECT v, ABS(cum_a * nb - cum_b * na) AS gap, na, nb FROM c, t)
        |SELECT CAST(gap AS BIGINT) AS ks_gap, CAST(v AS BIGINT) AS at_v,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b
        |FROM g ORDER BY gap DESC, v LIMIT 1""".stripMargin),

    // Bigram-surprisal band histogram — conditional-probability LM-quality
    // signal (surprise given the predecessor token), integer-exact.
    Gate("txt_surprisal2", (s, d) =>
      graft.operators.CorpusOps.bigramSurprisalBands(docs(s, d), "doc_id"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id,
        |  unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS s FROM t),
        |dt AS (SELECT doc_id, s, string_split(s, ' ')[1] AS w1, COUNT(*) AS c
        |  FROM bg GROUP BY 1, 2, 3),
        |c2 AS (SELECT s, SUM(c) AS cnt2 FROM dt GROUP BY s),
        |c1 AS (SELECT w1, SUM(c) AS cnt1 FROM dt GROUP BY w1),
        |sc AS (SELECT dt.doc_id,
        |  SUM(dt.c * ((1000000 * c1.cnt1) // c2.cnt2)) AS score,
        |  SUM(dt.c) AS nb
        |  FROM dt JOIN c2 USING (s) JOIN c1 USING (w1) GROUP BY dt.doc_id)
        |SELECT CAST((score // nb) // 10000000 AS BIGINT) AS band,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM sc GROUP BY 1""".stripMargin),

    // Concat-and-chunk packing bookkeeping: md5-shuffled doc order in 4
    // shards, 2048-token context windows; per (shard, bin) doc/token counts.
    Gate("pack_bins", (s, d) =>
      graft.operators.CorpusOps.packStats(docs(s, d), "doc_id", 4, 2048), {
      // Shard from the LAST four hex chars (29-32) — disjoint from the
      // two-level bucketing's leading-prefix chars (packStats scaladoc).
      val shardPoly = (1 to 4).map(j =>
        s"${hexvalSql(s"substr(ord,${28 + j},1)")} * ${1 << (4 * (4 - j))}").mkString(" + ")
      s"""WITH t AS (SELECT doc_id,
         |  COALESCE(len(string_split(text, ' ')), 0) AS ntok,
         |  md5('pack:' || CAST(doc_id AS VARCHAR)) AS ord FROM documents),
         |s AS (SELECT doc_id, ntok, ord,
         |  ($shardPoly) % 4 AS shard FROM t),
        |o AS (SELECT shard, ntok,
        |  COALESCE(SUM(ntok) OVER (PARTITION BY shard ORDER BY ord, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM s)
         |SELECT CAST(shard AS BIGINT) AS shard, CAST(off // 2048 AS BIGINT) AS bin,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS tok_sum
         |FROM o GROUP BY 1, 2""".stripMargin
    }),

    // Deterministic stratified sample — 30% of src0, src1 excluded, 10%
    // elsewhere; MEMBERSHIP (doc_id rows), not just counts, is gated.
    Gate("strat_sample", (s, d) =>
      graft.operators.CorpusOps.stratifiedSample(docs(s, d), "source",
          Map("src0" -> 30, "src1" -> 0), 10)
        .select(col("doc_id"), col("source")),
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source, ${bucketSql("'sample:' || text")} AS bkt FROM documents)
         |WHERE bkt < CASE source WHEN 'src0' THEN 30 WHEN 'src1' THEN 0 ELSE 10 END""".stripMargin),

    // Token-budget mixture allocation: apportion a 10k-token budget
    // across sources proportional to token mass (Hamilton
    // largest-remainder — Σ alloc == budget exactly, integer-exact).
    // The data-mixture design step that sizes per-source draws.
    // mix_alloc: per-source non-empty-token mass, floor-proportional base,
    // largest-remainder top-up (ties by source name) — Σ alloc = budget.
    Gate("mix_alloc", (s, d) =>
      graft.operators.CorpusOps.tokenBudgetAlloc(docs(s, d), "source",
        10000L),
      """WITH tok AS (SELECT source AS grp,
        |  len([x for x in string_split(coalesce(text, ''), ' ') if len(x) > 0]) AS nt
        |  FROM documents),
        |pg AS (SELECT grp, CAST(SUM(nt) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
        |tt AS (SELECT SUM(n_tokens) AS t_total FROM pg),
        |based AS (SELECT grp, n_tokens, (10000 * n_tokens) // t_total AS base,
        |  (10000 * n_tokens) % t_total AS rem FROM pg CROSS JOIN tt),
        |ex AS (SELECT 10000 - SUM(base) AS extra FROM based)
        |SELECT grp, n_tokens,
        |  CAST(base + CASE WHEN rn <= extra THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM (SELECT grp, n_tokens, base,
        |  ROW_NUMBER() OVER (ORDER BY rem DESC, grp) AS rn FROM based)
        |CROSS JOIN ex""".stripMargin),

    // Deterministic fixed-size per-source sample: the 7 smallest salted
    // content hashes per stratum — membership and rank both gated.
    Gate("samp_topk", (s, d) =>
      graft.operators.CorpusOps.groupTopK(docs(s, d), "doc_id", "source", 7),
      """SELECT source, doc_id, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source ORDER BY md5('topk:' || text), doc_id) AS rnk
        |  FROM documents)
        |WHERE rnk <= 7""".stripMargin),

    // Weighted sample without replacement (priority sampling, weight =
    // n_chars): the token-budget-proportional corpus draw. The selected
    // SET is the gate; priorities are engine-exact integer/integer
    // double quotients.
    // samp_weighted: priority sampling — w/h with the base-31 ascii fold
    // over six md5 hex chars (BIGINT throughout; INTEGER would overflow at
    // 31^5·ascii). The double quotient of two exact integers is correctly
    // rounded identically in both engines, so the top-25 SET is exact.
    Gate("samp_weighted", (s, d) =>
      graft.operators.CorpusOps.prioritySample(docs(s, d), "doc_id", 25), {
      val draw = (1 to 6)
        .map(i => s"CAST(ascii(substr(md5('prio:' || text), $i, 1)) AS BIGINT)")
        .reduce((a, b) => s"($a * 31 + $b)")
      s"""SELECT doc_id, w FROM (
         |  SELECT doc_id, n_chars AS w,
         |    CAST(n_chars AS DOUBLE) / CAST($draw AS DOUBLE) AS prio
         |  FROM documents)
         |ORDER BY prio DESC, doc_id LIMIT 25""".stripMargin
    }),

    // Deterministic global training-order shuffle: every doc's exact
    // 0-based position under the seeded pseudo-random total order
    // (bucket, draw, id) — reproducible on any partitioning. The oracle
    // replays the full order with one global ROW_NUMBER (oracle-side
    // only; the Spark side is the two-level bounded-window shape).
    // ord_shuffle: the same salted md5 bucket + base-31 ascii draw, ranked
    // by ONE global window (the oracle may centralize; the engine must
    // not — its two-level shape is the point under test via hash parity).
    Gate("ord_shuffle", (s, d) =>
      graft.operators.CorpusOps.shuffleRank(docs(s, d), "doc_id", "shuf12:"), {
      val draw = (1 to 6)
        .map(i => s"CAST(ascii(substr(md5('shuf12:' || CAST(doc_id AS VARCHAR)), $i, 1)) AS BIGINT)")
        .reduce((a, b) => s"($a * 31 + $b)")
      val hv1 = hexvalSql("substr(md5('shuf12:' || CAST(doc_id AS VARCHAR)), 1, 1)")
      val hv2 = hexvalSql("substr(md5('shuf12:' || CAST(doc_id AS VARCHAR)), 2, 1)")
      s"""SELECT doc_id,
         |  CAST(ROW_NUMBER() OVER (ORDER BY ($hv1 * 16 + $hv2), $draw, doc_id) - 1
         |    AS BIGINT) AS shuffle_rank
         |FROM documents""".stripMargin
    }),

    // Decision-stump (1R) length-router training: per candidate feature
    // the exact error-minimizing threshold rule (pred = +1 iff x ≥ θ),
    // found by integer counting over the feature's distinct values — the
    // gate hashes the full per-feature sweep and the oracle re-trains the
    // identical model.
    // model_stump / model_confusion: the full 1R training replay —
    // feature melt, per-(feature, value) label counts, cumulative-sum
    // threshold sweep. DuckDB SUM(BIGINT) returns HUGEINT, so every
    // emitted value is cast back to BIGINT.
    Gate("model_stump", (s, d) =>
      graft.operators.ModelOps.stumpTrain(docs(s, d)),
      s"""WITH $stumpCtes
         |SELECT feature, CAST(thr AS BIGINT) AS thr, CAST(errs AS BIGINT) AS errs
         |FROM (SELECT feature, thr, errs,
         |  ROW_NUMBER() OVER (PARTITION BY feature ORDER BY errs, thr) AS rn FROM e)
         |WHERE rn = 1""".stripMargin),

    // Confusion matrix of the overall-best stump over the corpus — the
    // deploy-side scoring pass (label ±1 × prediction ±1 cell counts).
    Gate("model_confusion", (s, d) =>
      graft.operators.ModelOps.stumpConfusion(docs(s, d)),
      s"""WITH $stumpCtes,
         |b AS (SELECT feature, thr FROM e ORDER BY errs, feature, thr LIMIT 1)
         |SELECT CAST(f.y AS BIGINT) AS y,
         |  CAST(CASE WHEN (CASE b.feature WHEN 'n_tok' THEN f.n_tok
         |    WHEN 'n_long' THEN f.n_long ELSE f.n_stop END) >= b.thr
         |    THEN 1 ELSE -1 END AS BIGINT) AS pred,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM f CROSS JOIN b GROUP BY 1, 2""".stripMargin),

    // Batch perceptron over the four quality flags, label = is-English:
    // 3 fixed rounds, one partial-aggregated scan each, model state on
    // the driver — the iterative supervised twin of the k-means loop.
    // The gate hashes the whole per-round trajectory (weights, bias,
    // misclassified count), which the oracle replays round by round.
    // model_perceptron: unrolled batch-update replay — round t's CTE
    // cross-joins round t−1's one-row weight table, recomputes the
    // margin/misclassification per document, and adds the summed
    // update. sign(0) = −1 matches the Spark side.
    Gate("model_perceptron", (s, d) => {
      val flags = TextOps.qualityFlags(col("text"))
      val feats = docs(s, d).select(
        flags.zipWithIndex.map { case (f, i) =>
          when(f, 1L).otherwise(0L).as(s"f${i + 1}")
        } :+ when(col("lang") === "en", 1L).otherwise(-1L).as("y"): _*)
      graft.operators.ModelOps.perceptronTrain(
        feats, Seq("f1", "f2", "f3", "f4"), "y", 3)
    }, {
      def roundCte(t: Int): String = {
        // Previous-round weights enter as scalar subqueries (r_{t-1} is a
        // one-row table) — a cross-joined column would trip DuckDB's
        // aggregate binder.
        def pw(i: Int) = if (t == 1) "0" else s"(SELECT w$i FROM r${t - 1})"
        val pb = if (t == 1) "0" else s"(SELECT b FROM r${t - 1})"
        val margin = (1 to 4).map(i => s"${pw(i)} * f$i").mkString(" + ") +
          s" + $pb"
        val mis = s"(CASE WHEN $margin > 0 THEN 1 ELSE -1 END) <> y"
        val ws = (1 to 4).map(i =>
          s"${pw(i)} + COALESCE(SUM(CASE WHEN $mis THEN y * f$i ELSE 0 END), 0) AS w$i")
          .mkString(",\n  ")
        s"""r$t AS (SELECT $ws,
           |  $pb + COALESCE(SUM(CASE WHEN $mis THEN y ELSE 0 END), 0) AS b,
           |  COALESCE(SUM(CASE WHEN $mis THEN 1 ELSE 0 END), 0) AS n_upd
           |  FROM t)""".stripMargin
      }
      val selects = (1 to 3).map(t =>
        s"SELECT CAST($t AS BIGINT) AS round, CAST(w1 AS BIGINT) AS w1, " +
          s"CAST(w2 AS BIGINT) AS w2, CAST(w3 AS BIGINT) AS w3, " +
          s"CAST(w4 AS BIGINT) AS w4, CAST(b AS BIGINT) AS b, " +
          s"CAST(n_upd AS BIGINT) AS n_upd FROM r$t")
        .mkString("\nUNION ALL\n")
      s"""WITH base AS (SELECT lang, string_split(text, ' ') AS w, len(text) AS nc FROM documents),
         |t AS (SELECT ${flagSqls.zipWithIndex.map { case (f, i) => s"($f) AS f${i + 1}" }.mkString(",\n  ")},
         |  CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y FROM base),
         |${(1 to 3).map(roundCte).mkString(",\n")}
         |$selects""".stripMargin
    }),

    Gate("dedup_exact", (s, d) => TextOps.dedupExact(docs(s, d)),
      """SELECT md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS h,
        |CAST(MIN(doc_id) AS BIGINT) AS keep_id,
        |CAST(COUNT(*) AS BIGINT) AS dup_cnt
        |FROM documents GROUP BY 1""".stripMargin),

    // SUB-DOCUMENT dedup (Lee et al. arXiv:2107.06499, ExactSubstr at
    // fixed 8-token window granularity): per-doc count of duplicated
    // windows (exact text occurring ≥ 2 times corpus-wide, self-repeats
    // included) and the exact token-interval-union coverage — the
    // "which documents are mostly boilerplate" readout whole-doc dedup
    // cannot produce. The oracle replays every positioned span hash,
    // the global occurrence counts, and the lead()-based interval union.
    // dedup_substr: positioned 8-token spans (pos carried through a struct
    // comprehension), global occurrence counts, dup filter at c >= 2, and
    // the fixed-length interval union as sum(min(next_pos - pos, 8)) via
    // lead() — the same formulation the Spark side executes, replayed
    // independently on DuckDB's engine.
    Gate("dedup_substr", (s, d) =>
      graft.operators.DedupOps.duplicatedSpanCoverage(docs(s, d), "doc_id", 8),
      """WITH sp AS (
        |  SELECT doc_id, u.pos AS pos, u.sh AS sh FROM (
        |    SELECT doc_id, unnest([{'pos': i - 1, 'sh': md5(array_to_string(w[i:i+7], ' '))}
        |                           for i in range(1, greatest(len(w) - 6, 1))]) AS u
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
        |cnt AS (SELECT sh, COUNT(*) AS c FROM sp GROUP BY sh),
        |ds AS (SELECT sp.doc_id, sp.pos,
        |         LEAD(sp.pos) OVER (PARTITION BY sp.doc_id ORDER BY sp.pos) AS nxt
        |       FROM sp JOIN cnt USING (sh) WHERE cnt.c >= 2),
        |cov AS (SELECT doc_id, COUNT(*) AS ndw,
        |          SUM(CASE WHEN nxt IS NULL THEN 8 ELSE LEAST(8, nxt - pos) END) AS covered
        |        FROM ds GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(greatest(len(string_split(d.text, ' ')) - 7, 0) AS BIGINT) AS n_windows,
        |  CAST(COALESCE(cov.ndw, 0) AS BIGINT) AS n_dup_windows,
        |  CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_tokens
        |FROM documents d LEFT JOIN cov USING (doc_id)""".stripMargin),

    // The variable-length readout over the same primitive: maximal
    // duplicated RUNS (consecutive duplicated windows ≤ 8 starts apart
    // merge; abutting counts as contiguous) — per-doc run count, longest
    // run, and Σ run lengths (= dedup_substr's interval union, the
    // cross-operator consistency an auditor can assert). Docs with no
    // duplicated window are absent. Oracle replays the lag-break /
    // running-sum island segmentation.
    // dedup_substr_runs: same span/count/dup CTEs, then the island
    // segmentation — break when the previous duplicated start is > 8
    // back, running break-sum as the island id, MAX−MIN+8 per island.
    Gate("dedup_substr_runs", (s, d) =>
      graft.operators.DedupOps.duplicatedSpanRuns(docs(s, d), "doc_id", 8),
      """WITH sp AS (
        |  SELECT doc_id, u.pos AS pos, u.sh AS sh FROM (
        |    SELECT doc_id, unnest([{'pos': i - 1, 'sh': md5(array_to_string(w[i:i+7], ' '))}
        |                           for i in range(1, greatest(len(w) - 6, 1))]) AS u
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
        |cnt AS (SELECT sh, COUNT(*) AS c FROM sp GROUP BY sh),
        |ds AS (SELECT sp.doc_id, sp.pos,
        |         CASE WHEN sp.pos - LAG(sp.pos) OVER (PARTITION BY sp.doc_id ORDER BY sp.pos) > 8
        |           THEN 1 ELSE 0 END AS brk
        |       FROM sp JOIN cnt USING (sh) WHERE cnt.c >= 2),
        |isl AS (SELECT doc_id, pos,
        |          SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run
        |        FROM ds),
        |runs AS (SELECT doc_id, run, MAX(pos) - MIN(pos) + 8 AS run_len
        |         FROM isl GROUP BY 1, 2)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
        |  CAST(MAX(run_len) AS BIGINT) AS max_run_tokens,
        |  CAST(SUM(run_len) AS BIGINT) AS covered_tokens
        |FROM runs GROUP BY doc_id""".stripMargin),

    // CROSS-DOCUMENT boilerplate (RefinedWeb/CCNet-style template
    // detection): 8-token windows occurring in >= 3 DISTINCT documents,
    // per-doc count + interval-union coverage. Differs from dedup_substr
    // on both axes: document frequency (not occurrences), and threshold 3
    // (a single near-dup pair is duplication, not template text).
    // dedup_boilerplate: the dedup_substr replay with the frequency CTE
    // counting DISTINCT documents (not occurrences) and the template
    // threshold at >= 3.
    Gate("dedup_boilerplate", (s, d) =>
      graft.operators.DedupOps.boilerplateCoverage(docs(s, d), "doc_id", 8, 3),
      """WITH sp AS (
        |  SELECT doc_id, u.pos AS pos, u.sh AS sh FROM (
        |    SELECT doc_id, unnest([{'pos': i - 1, 'sh': md5(array_to_string(w[i:i+7], ' '))}
        |                           for i in range(1, greatest(len(w) - 6, 1))]) AS u
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
        |cnt AS (SELECT sh, COUNT(DISTINCT doc_id) AS c FROM sp GROUP BY sh),
        |ds AS (SELECT sp.doc_id, sp.pos,
        |         LEAD(sp.pos) OVER (PARTITION BY sp.doc_id ORDER BY sp.pos) AS nxt
        |       FROM sp JOIN cnt USING (sh) WHERE cnt.c >= 3),
        |cov AS (SELECT doc_id, COUNT(*) AS ndw,
        |          SUM(CASE WHEN nxt IS NULL THEN 8 ELSE LEAST(8, nxt - pos) END) AS covered
        |        FROM ds GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(greatest(len(string_split(d.text, ' ')) - 7, 0) AS BIGINT) AS n_windows,
        |  CAST(COALESCE(cov.ndw, 0) AS BIGINT) AS n_bp_windows,
        |  CAST(COALESCE(cov.covered, 0) AS BIGINT) AS bp_covered_tokens
        |FROM documents d LEFT JOIN cov USING (doc_id)""".stripMargin),

    // MinHash+LSH near-dup pairs: word-3-gram shingles, 12 bands × 3 rows,
    // verified true Jaccard ≥ 1/2 (integer cross-multiply). The oracle is
    // the all-pairs check — a RECALL CONTRACT with the fixture, not an
    // identity: the corpus' planted near-dups sit at J ≥ 0.85, where the
    // banding misses with probability (1-0.85³)^12 ≈ 1e-5, and the 3-row
    // bands keep false-positive candidates (shared-vocabulary pairs at
    // J ≈ 0.05) near zero. A future fixture pair in the banding's fuzzy
    // zone J ∈ [0.5, ~0.8) could legitimately be missed (e.g. ~7% at
    // J = 0.6) — if the corpus ever grows such pairs, move this gate
    // rows-only like dedup_simhash rather than paper over the recall curve.
    Gate("dedup_minhash", (s, d) =>
      graft.operators.DedupOps.minhashNearDups(docs(s, d), "doc_id", 3, 12, 3, 1, 2),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM toks WHERE len(w) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS c_inter,
        |  CAST(len(list_distinct(list_concat(a.s, b.s))) AS BIGINT) AS c_union
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) * 2 >= len(list_distinct(list_concat(a.s, b.s)))""".stripMargin),

    // INCREMENTAL dedup — the ingestion-time operation: new batch (odd
    // doc_ids) deduped against the existing corpus (even doc_ids), exact
    // normalized-hash anti-join + banded-LSH/verified-Jaccard cross-side
    // pass. Output: surviving new doc ids. The oracle replays both drop
    // rules brute-force.
    // dedup_incr: brute-force replay of both drop rules over the parity
    // split — exact normalized-hash membership in the old side, and any
    // old doc with shingle Jaccard ≥ 1/2 (docs under 3 tokens carry no
    // shingles and can only be exact-dropped, matching the Spark side).
    Gate("dedup_incr", (s, d) => {
      val dd = docs(s, d)
      graft.operators.DedupOps.incrementalDedup(
        dd.filter(col("doc_id") % 2 === 0), dd.filter(col("doc_id") % 2 === 1),
        "doc_id", 3, 12, 3, 1, 2)
    },
      """WITH norm AS (SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS k FROM documents),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM toks WHERE len(w) >= 3),
        |ex AS (SELECT DISTINCT n.doc_id FROM norm n JOIN norm o
        |  ON n.doc_id % 2 = 1 AND o.doc_id % 2 = 0 AND n.k = o.k),
        |fz AS (SELECT DISTINCT a.doc_id FROM sh a JOIN sh b
        |  ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |  AND len(list_intersect(a.s, b.s)) * 2 >= len(list_distinct(list_concat(a.s, b.s))))
        |SELECT doc_id FROM documents
        |WHERE doc_id % 2 = 1
        |  AND doc_id NOT IN (SELECT doc_id FROM ex)
        |  AND doc_id NOT IN (SELECT doc_id FROM fz)""".stripMargin),

    // Exact n-gram-Jaccard near-dups (shingle co-occurrence join — no LSH):
    // must produce the identical pair set through a different algorithm.
    Gate("dedup_jaccard", (s, d) =>
      graft.operators.DedupOps.jaccardNearDups(docs(s, d), "doc_id", 3, 1, 2),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM toks WHERE len(w) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS c_inter,
        |  CAST(len(list_distinct(list_concat(a.s, b.s))) AS BIGINT) AS c_union
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) * 2 >= len(list_distinct(list_concat(a.s, b.s)))""".stripMargin),

    // ASYMMETRIC containment near-dups (Broder containment >= 7/10 on
    // 3-gram shingle sets): catches short-document-pasted-into-long
    // subsumption that Jaccard resemblance structurally misses. The
    // smaller-set prefix filter is EXACT at the threshold, so the
    // all-pairs oracle is an identity, not a recall contract.
    // dedup_containment: the smaller-set prefix filter is exact at the
    // threshold, so the all-pairs check is an identity (unlike the
    // banded-LSH gate's recall contract).
    Gate("dedup_containment", (s, d) =>
      graft.operators.DedupOps.containmentNearDups(docs(s, d), "doc_id",
        3, 7, 10),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM toks WHERE len(w) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS c_inter,
        |  CAST(len(a.s) AS BIGINT) AS sz_a,
        |  CAST(len(b.s) AS BIGINT) AS sz_b
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) * 10 >= least(len(a.s), len(b.s)) * 7""".stripMargin),

    // Subsumption GROUPS: the same min-label component collapse text
    // dedup has, over the containment pair graph — "which documents are
    // versions/supersets of each other", the keep-longest decision input.
    // dedup_containment_clusters: the component replay over the EXACT
    // containment pair set (same recursive reachability, different edge
    // rule).
    Gate("dedup_containment_clusters", (s, d) => {
      val dd = docs(s, d)
      graft.operators.DedupOps.nearDupClusters(dd, "doc_id",
        graft.operators.DedupOps.containmentNearDups(dd, "doc_id", 3, 7, 10))
    }, {
      val ctes = clusterCtes(
        "len(list_intersect(a.s, b.s)) * 10 >= least(len(a.s), len(b.s)) * 7")
      s"""$ctes
         |SELECT doc_id, cluster FROM lblfull""".stripMargin
    }),

    // Cross-source NEAR-DUP matrix: verified fuzzy pairs (exact Jaccard
    // >= 1/2 on 3-shingles) rolled up by unordered source pair — the
    // mixture-design contamination signal corp_overlap gives for exact
    // 8-token spans, at the near-duplicate level (which sources RESELL
    // each other's documents, not just quote them). Self-pairs count
    // within-source duplication. One broadcast-sized source table joined
    // to the pair ends; the pair set is the oracle-green dedup_jaccard
    // set, so the oracle replays all-pairs + the rollup.
    // dedup_source_matrix: the all-pairs Jaccard replay joined to doc
    // sources, rolled up by unordered source pair.
    Gate("dedup_source_matrix", (s, d) => {
      val dd = docs(s, d)
      graft.operators.DedupOps.sourcePairMatrix(
        graft.operators.DedupOps.jaccardNearDups(dd, "doc_id", 3, 1, 2),
        dd, "doc_id", "source")
    },
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, source,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
        |  FROM toks WHERE len(w) >= 3),
        |pr AS (SELECT a.source AS sa, b.source AS sb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s)) * 2 >= len(list_distinct(list_concat(a.s, b.s))))
        |SELECT least(sa, sb) AS src_a, greatest(sa, sb) AS src_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM pr GROUP BY 1, 2""".stripMargin),

    // MinHash estimator accuracy: for every verified near-dup pair, the
    // agreeing slots out of 36 engine-neutral md5-fold minhash values
    // next to the exact intersection/union — the empirical "matches/k ≈ J"
    // readout a b×r banding design is validated against.
    // minhash_est: the dedup_jaccard pair replay + 36 md5-fold minhash
    // slot minima per doc, slot agreement counted per pair.
    Gate("minhash_est", (s, d) =>
      graft.operators.DedupOps.minhashEstimates(docs(s, d), "doc_id", 3,
        36, 1, 2), {
      def draw(j: Int) = (1 to 6)
        .map(i => s"CAST(ascii(substr(md5('mh$j:' || s), $i, 1)) AS BIGINT)")
        .reduce((a, b) => s"($a * 31 + $b)")
      val mins = (0 until 36).map(j => s"min(${draw(j)}) AS g$j").mkString(", ")
      val sigList = (0 until 36).map(j => s"g$j").mkString("[", ", ", "]")
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id,
         |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
         |  FROM toks WHERE len(w) >= 3),
         |shr AS (SELECT doc_id, unnest(s) AS s FROM sh),
         |sigs AS (SELECT doc_id, $mins FROM shr GROUP BY 1),
         |sigl AS (SELECT doc_id, $sigList AS sig FROM sigs),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS c_inter,
         |  CAST(len(list_distinct(list_concat(a.s, b.s))) AS BIGINT) AS c_union
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.s, b.s)) * 2 >= len(list_distinct(list_concat(a.s, b.s))))
         |SELECT p.id_a, p.id_b, p.c_inter, p.c_union,
         |  CAST(len(list_filter(range(1, 37), i -> sa.sig[i] = sb.sig[i])) AS BIGINT)
         |    AS est_matches
         |FROM p JOIN sigl sa ON sa.doc_id = p.id_a
         |JOIN sigl sb ON sb.doc_id = p.id_b""".stripMargin
    }),

    // Near-dup cluster collapse: connected components over the verified
    // MinHash pair graph, every doc labeled with its cluster's minimum doc
    // id ("keep one per cluster" = doc_id == cluster). The pair set is the
    // oracle-green dedup_minhash set, so the oracle replays the same graph
    // with a recursive CTE.
    Gate("dedup_clusters", (s, d) => {
      val dd = docs(s, d)
      graft.operators.DedupOps.nearDupClusters(dd, "doc_id",
        graft.operators.DedupOps.minhashNearDups(dd, "doc_id", 3, 12, 3, 1, 2))
    },
      s"""$nearDupClusterCtes
         |SELECT doc_id, cluster FROM lblfull""".stripMargin),

    // Cluster-SIZE histogram from the same collapse — the number a curation
    // decision actually reads ("how much mass sits in dup clusters").
    // dedup_cluster_sizes: the same cluster labeling reduced to its
    // decision surface — how many clusters of each size, covering how
    // many documents.
    Gate("dedup_cluster_sizes", (s, d) => {
      val dd = docs(s, d)
      graft.operators.DedupOps.nearDupClusters(dd, "doc_id",
          graft.operators.DedupOps.minhashNearDups(dd, "doc_id", 3, 12, 3, 1, 2))
        .groupBy("cluster").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .select(col("sz"), col("n_clusters"),
          (col("sz") * col("n_clusters")).as("n_docs"))
    },
      s"""$nearDupClusterCtes,
         |cs AS (SELECT cluster, COUNT(*) AS sz FROM lblfull GROUP BY 1)
         |SELECT CAST(sz AS BIGINT) AS sz, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(sz * COUNT(*) AS BIGINT) AS n_docs
         |FROM cs GROUP BY sz""".stripMargin),

    // 64-bit SimHash signatures over the md5-derived token hash — the
    // engine-neutral hash makes the signature DuckDB-replayable, so this
    // gate is hash-green (xxhash64 remains the production default hash;
    // its signature semantics are spec-tested).
    Gate("dedup_simhash", (s, d) =>
      graft.operators.DedupOps.simhash64Rows(docs(s, d), "doc_id",
          graft.operators.DedupOps.md5TokenHash)
        .select(col("id").as("doc_id"), col("h").as("simhash")),
      s"""WITH $simhashSigSql
         |SELECT doc_id, simhash FROM sig""".stripMargin),

    // SimHash near-dup pairs: Manku block-combination Hamming ≤ 3 search
    // (6 blocks, join per 3-block combination — 32-bit candidate keys).
    // The oracle brute-forces all pairs over the replayed signatures, so
    // exactness of the pigeonhole search is hash-checked, not just
    // spec-tested.
    Gate("dedup_simhash_pairs", (s, d) =>
      graft.operators.DedupOps.simhashNearDups(docs(s, d), "doc_id", 3, 6,
        graft.operators.DedupOps.md5TokenHash),
      s"""WITH $simhashSigSql
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS dist
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),

    // ---------------------------------------------------------- similarity
    // Exact cosine top-10 for 8 query vectors (broadcast baseline).
    Gate("knn_brute", (s, d) =>
      graft.operators.VectorOps.knnBrute(
        embs(s, d), "vec_id", "embedding", col("vec_id") < 8, 10), {
      val cos = cosSql("q.v", "x.v")
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |s AS (SELECT q.vec_id AS qid, x.vec_id AS nid, $cos AS sim
         |  FROM e q, e x WHERE q.vec_id < 8 AND x.vec_id != q.vec_id)
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM s)
         |WHERE rnk <= 10""".stripMargin
    }),

    // Exact MAXIMUM-INNER-PRODUCT top-10 (MIPS — the retrieval objective
    // when embedding norm carries signal; differs from cosine NN whenever
    // corpus norms vary). Ranks directly on the native codegen'd
    // graft_dot expression.
    Gate("knn_mips", (s, d) =>
      graft.operators.VectorOps.knnMips(
        embs(s, d), "vec_id", "embedding", col("vec_id") < 8, 10), {
      val ip = s"list_sum([CAST(q.v[i] AS DOUBLE) * CAST(x.v[i] AS DOUBLE) for i in range(1, ${EmbDims + 1})])"
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |s AS (SELECT q.vec_id AS qid, x.vec_id AS nid, $ip AS ip
         |  FROM e q, e x WHERE q.vec_id < 8 AND x.vec_id != q.vec_id)
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ip DESC, nid) AS rnk FROM s)
         |WHERE rnk <= 10""".stripMargin
    }),

    // HARD-NEGATIVE mining: top-5 most-similar corpus vectors with a
    // DIFFERENT label per query — the contrastive-training negatives
    // readout (same ranking contract as knn_brute, cross-label only).
    // knn_negatives: the knn_brute replay restricted to cross-label
    // pairs (NULL-safe inequality matches Spark's negated <=>).
    Gate("knn_negatives", (s, d) =>
      graft.operators.VectorOps.hardNegatives(
        embs(s, d), "vec_id", "embedding", "label", col("vec_id") < 8, 5), {
      val cos = cosSql("q.v", "x.v")
      s"""WITH e AS (SELECT vec_id, label, embedding AS v FROM embeddings),
         |s AS (SELECT q.vec_id AS qid, x.vec_id AS nid, $cos AS sim
         |  FROM e q, e x WHERE q.vec_id < 8 AND x.vec_id != q.vec_id
         |    AND x.label IS DISTINCT FROM q.label)
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM s)
         |WHERE rnk <= 5""".stripMargin
    }),

    // Random-hyperplane LSH top-5: 4 tables × 4 sign bits; candidates via
    // (table, bucket) equi-join, exact re-rank. Oracle replays the same
    // hyperplane constants in SQL.
    Gate("knn_lsh", (s, d) =>
      graft.operators.VectorOps.knnLsh(
        embs(s, d), "vec_id", "embedding", col("vec_id") < 8, 5,
        LshTables, LshBits, EmbDims), {
      val pdot = s"list_sum([CAST(e.v[i] AS DOUBLE) * pl.p[i] for i in range(1, ${EmbDims + 1})])"
      val cos  = cosSql("a.v", "b.v")
      s"""WITH planes(t, b, p) AS (VALUES
         |$planesValuesSql),
         |e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |buck AS (SELECT e.vec_id AS id, pl.t,
         |  CAST(SUM(CASE WHEN $pdot >= 0 THEN (1 << pl.b) ELSE 0 END) AS INTEGER) AS bucket
         |  FROM e, planes pl GROUP BY 1, 2),
         |cand AS (SELECT q.id AS qid, x.id AS nid
         |  FROM buck q JOIN buck x ON q.t = x.t AND q.bucket = x.bucket AND x.id != q.id
         |  WHERE q.id < 8 GROUP BY 1, 2),
         |s AS (SELECT c.qid, c.nid, $cos AS sim
         |  FROM cand c JOIN e a ON a.vec_id = c.qid JOIN e b ON b.vec_id = c.nid)
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM s)
         |WHERE rnk <= 5""".stripMargin
    }),

    // MULTI-PROBE LSH top-5 (Lv et al. VLDB'07): knn_lsh's 4-bit
    // geometry at 3 tables instead of 4, with 2 single-bit-flip probes
    // per table — the flips recover MORE recall than the dropped table
    // cost (31/40 vs 28/40 at sf0.01) on 3/4 the index. The oracle
    // replays base buckets, per-bit margins, the flip ranking, and the
    // exact re-rank.
    // bucketCap = DefaultMaxBucket: exercises the capped production
    // path (bounded candidates → the broadcast corpus-prune plan the
    // PlanShapeSpec pin asserts); a no-op on the fixture per the
    // documented cap contract, so the oracle replays uncapped.
    // knn_lsh_mp: the multi-probe replay — per-(query, plane) projections,
    // base buckets, ABS-margin flip ranking (ties to the lowest bit, the
    // array_sort struct order), XOR'd probe buckets, the (t, bucket)
    // candidate join, and the exact cosine re-rank.
    Gate("knn_lsh_mp", (s, d) =>
      graft.operators.VectorOps.knnLshMultiProbe(
        embs(s, d), "vec_id", "embedding", col("vec_id") < 8, 5,
        MpTables, MpBits, MpFlips, EmbDims,
        bucketCap = graft.operators.DedupOps.DefaultMaxBucket), {
      val cos = cosSql("a.v", "b.v")
      s"""WITH $mpCtes,
         |s AS (SELECT c.qid, c.nid, $cos AS sim
         |  FROM mpcand c JOIN e a ON a.vec_id = c.qid JOIN e b ON b.vec_id = c.nid)
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM s)
         |WHERE rnk <= 5""".stripMargin
    }),

    // Recall@5 of the multi-probe path vs the exact baseline — the
    // number that validates trading tables for flips.
    // ann_recall_mp: the knn_brute and knn_lsh_mp replays side by side,
    // truncated to the same k, left-joined per (qid, nid).
    Gate("ann_recall_mp", (s, d) => {
      val e = embs(s, d)
      annRecall(
        graft.operators.VectorOps.knnLshMultiProbe(
          e, "vec_id", "embedding", col("vec_id") < 8, 5,
          MpTables, MpBits, MpFlips, EmbDims,
          bucketCap = graft.operators.DedupOps.DefaultMaxBucket),
        e)
    }, {
      val bcos = cosSql("q.v", "x.v")
      val lcos = cosSql("a.v", "b.v")
      s"""WITH $mpCtes,
         |bs AS (SELECT q.vec_id AS qid, x.vec_id AS nid, $bcos AS sim
         |  FROM e q, e x WHERE q.vec_id < 8 AND x.vec_id != q.vec_id),
         |bt AS (SELECT qid, nid FROM (
         |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM bs)
         |  WHERE rnk <= 5),
         |ls AS (SELECT c.qid, c.nid, $lcos AS sim
         |  FROM mpcand c JOIN e a ON a.vec_id = c.qid JOIN e b ON b.vec_id = c.nid),
         |lt AS (SELECT qid, nid FROM (
         |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM ls)
         |  WHERE rnk <= 5)
         |SELECT bt.qid, CAST(COUNT(*) AS BIGINT) AS n_true,
         |  CAST(SUM(CASE WHEN lt.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |FROM bt LEFT JOIN lt ON bt.qid = lt.qid AND bt.nid = lt.nid
         |GROUP BY 1""".stripMargin
    }),

    // Scalar-quantized (SQ8) top-10: integer-dot candidate ranking over
    // the int8-quantized index (4× compression, no codebook training),
    // top-30 candidates re-ranked by exact cosine. The quantization and
    // the integer candidate ranking replay bit-for-bit in the oracle.
    // knn_sq8 / ann_recall_sq8: replay int8 quantization (the emb_quant
    // chain), the INTEGER dot-product candidate ranking, and the exact
    // cosine re-rank of the surviving candidates.
    Gate("knn_sq8", (s, d) =>
      graft.operators.VectorOps.knnSq8(
        embs(s, d), "vec_id", "embedding", col("vec_id") < 8, 10, 30), {
      val cos = cosSql("a.v", "b.v")
      s"""WITH ${sq8Ctes(30)},
         |r AS (SELECT t.qid, t.nid, $cos AS sim
         |  FROM sqtop t JOIN e a ON a.vec_id = t.qid JOIN e b ON b.vec_id = t.nid)
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM r)
         |WHERE rnk <= 10""".stripMargin
    }),

    // Recall@5 of the SQ8 re-rank path vs the exact baseline — isolates
    // candidate-selection loss (the only loss SQ8 re-rank has).
    Gate("ann_recall_sq8", (s, d) => {
      val e = embs(s, d)
      annRecall(
        graft.operators.VectorOps.knnSq8(
          e, "vec_id", "embedding", col("vec_id") < 8, 5, 20),
        e)
    }, {
      val bcos = cosSql("q.v", "x.v")
      val cos = cosSql("a.v", "b.v")
      s"""WITH ${sq8Ctes(20)},
         |bs AS (SELECT q.vec_id AS qid, x.vec_id AS nid, $bcos AS sim
         |  FROM e q, e x WHERE q.vec_id < 8 AND x.vec_id != q.vec_id),
         |bt AS (SELECT qid, nid FROM (
         |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM bs)
         |  WHERE rnk <= 5),
         |r AS (SELECT t.qid, t.nid, $cos AS sim
         |  FROM sqtop t JOIN e a ON a.vec_id = t.qid JOIN e b ON b.vec_id = t.nid),
         |mt AS (SELECT qid, nid FROM (
         |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM r)
         |  WHERE rnk <= 5)
         |SELECT bt.qid, CAST(COUNT(*) AS BIGINT) AS n_true,
         |  CAST(SUM(CASE WHEN mt.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |FROM bt LEFT JOIN mt ON bt.qid = mt.qid AND bt.nid = mt.nid
         |GROUP BY 1""".stripMargin
    }),

    // ANN quality evaluation: per-query recall@5 of the LSH path against
    // the exact baseline — the metric an ANN deployment monitors when
    // tuning tables × bits. Integer counts, engine-exact.
    // ann_recall: the knn_brute and knn_lsh replays side by side (shared
    // planes/e CTEs), truncated to the same k, left-joined per (qid, nid).
    Gate("ann_recall", (s, d) => {
      val e = embs(s, d)
      annRecall(
        graft.operators.VectorOps.knnLsh(
          e, "vec_id", "embedding", col("vec_id") < 8, 5,
          LshTables, LshBits, EmbDims),
        e)
    }, {
      val pdot = s"list_sum([CAST(e.v[i] AS DOUBLE) * pl.p[i] for i in range(1, ${EmbDims + 1})])"
      val bcos = cosSql("q.v", "x.v")
      val lcos = cosSql("a.v", "b.v")
      s"""WITH planes(t, b, p) AS (VALUES
         |$planesValuesSql),
         |e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |bs AS (SELECT q.vec_id AS qid, x.vec_id AS nid, $bcos AS sim
         |  FROM e q, e x WHERE q.vec_id < 8 AND x.vec_id != q.vec_id),
         |bt AS (SELECT qid, nid FROM (
         |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM bs)
         |  WHERE rnk <= 5),
         |buck AS (SELECT e.vec_id AS id, pl.t,
         |  CAST(SUM(CASE WHEN $pdot >= 0 THEN (1 << pl.b) ELSE 0 END) AS INTEGER) AS bucket
         |  FROM e, planes pl GROUP BY 1, 2),
         |cand AS (SELECT q.id AS qid, x.id AS nid
         |  FROM buck q JOIN buck x ON q.t = x.t AND q.bucket = x.bucket AND x.id != q.id
         |  WHERE q.id < 8 GROUP BY 1, 2),
         |ls AS (SELECT c.qid, c.nid, $lcos AS sim
         |  FROM cand c JOIN e a ON a.vec_id = c.qid JOIN e b ON b.vec_id = c.nid),
         |lt AS (SELECT qid, nid FROM (
         |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM ls)
         |  WHERE rnk <= 5)
         |SELECT bt.qid, CAST(COUNT(*) AS BIGINT) AS n_true,
         |  CAST(SUM(CASE WHEN lt.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |FROM bt LEFT JOIN lt ON bt.qid = lt.qid AND bt.nid = lt.nid
         |GROUP BY 1""".stripMargin
    }),

    // Recall-TUNING sweep: recall@5 at three (tables × bits) LSH settings
    // from the same corpus/query family — the surface a deployment actually
    // reads when sizing its index (more tables → more candidates → higher
    // recall; more bits → smaller buckets → fewer candidates). The exact
    // baseline is computed once per setting from the same plan subtree
    // (AQE reuses the broadcast query side); all counts integer-exact.
    // ann_recall_sweep: the ann_recall replay once per (tables, bits)
    // setting — per-setting planes CTE, shared brute-force baseline,
    // UNION ALL with the setting as literal columns.
    Gate("ann_recall_sweep", (s, d) => {
      val e = embs(s, d)
      LshSweep.map { case (t, b) =>
        annRecall(
          graft.operators.VectorOps.knnLsh(
            e, "vec_id", "embedding", col("vec_id") < 8, 5, t, b, EmbDims),
          e)
          .select(lit(t.toLong).as("tables"), lit(b.toLong).as("bits"),
            col("qid"), col("n_true"), col("n_hit"))
      }.reduce(_ unionAll _)
    }, {
      val bcos = cosSql("q.v", "x.v")
      val lcos = cosSql("a.v", "b.v")
      val pdot = s"list_sum([CAST(e.v[i] AS DOUBLE) * pl.p[i] for i in range(1, ${EmbDims + 1})])"
      val settingCtes = LshSweep.zipWithIndex.map { case ((t, b), i) =>
        s"""p$i(t, b, p) AS (VALUES
           |${planesValuesSqlFor(t, b)}),
           |buck$i AS (SELECT e.vec_id AS id, pl.t,
           |  CAST(SUM(CASE WHEN $pdot >= 0 THEN (1 << pl.b) ELSE 0 END) AS INTEGER) AS bucket
           |  FROM e, p$i pl GROUP BY 1, 2),
           |cand$i AS (SELECT q.id AS qid, x.id AS nid
           |  FROM buck$i q JOIN buck$i x ON q.t = x.t AND q.bucket = x.bucket AND x.id != q.id
           |  WHERE q.id < 8 GROUP BY 1, 2),
           |ls$i AS (SELECT c.qid, c.nid, $lcos AS sim
           |  FROM cand$i c JOIN e a ON a.vec_id = c.qid JOIN e b ON b.vec_id = c.nid),
           |lt$i AS (SELECT qid, nid FROM (
           |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM ls$i)
           |  WHERE rnk <= 5),
           |r$i AS (SELECT CAST($t AS BIGINT) AS tables, CAST($b AS BIGINT) AS bits,
           |  bt.qid, CAST(COUNT(*) AS BIGINT) AS n_true,
           |  CAST(SUM(CASE WHEN lt$i.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
           |  FROM bt LEFT JOIN lt$i ON bt.qid = lt$i.qid AND bt.nid = lt$i.nid
           |  GROUP BY 1, 2, 3)""".stripMargin
      }.mkString(",\n")
      val selects = LshSweep.indices.map(i => s"SELECT * FROM r$i")
        .mkString("\nUNION ALL\n")
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |bs AS (SELECT q.vec_id AS qid, x.vec_id AS nid, $bcos AS sim
         |  FROM e q, e x WHERE q.vec_id < 8 AND x.vec_id != q.vec_id),
         |bt AS MATERIALIZED (SELECT qid, nid FROM (
         |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM bs)
         |  WHERE rnk <= 5),
         |$settingCtes
         |$selects""".stripMargin
    }),

    // Recall@5 of the TRAINED-quantizer IVF path — the number that gauges
    // the probes-per-query trade (IvfProbes of KmCentHi-KmCentLo+1 cells).
    // ann_recall_{ivf,pq,ivfpq}: each method's ranked replay beside the
    // knn_brute@5 replay (namespaced bev/bs/bt CTEs), left-joined per
    // (qid, nid) — the same shape as ann_recall's LSH comparison.
    Gate("ann_recall_ivf", (s, d) => {
      val e = embs(s, d)
      annRecall(
        graft.operators.VectorOps.knnIvfKmeans(
          e, "vec_id", "embedding", col("vec_id") < 8, 5,
          col("vec_id").between(KmCentLo, KmCentHi), KmIters, IvfProbes, EmbDims),
        e)
    },
      s"""WITH $ivfKmeansRankedCtes,
         |mt AS (SELECT qid, nid FROM r WHERE rnk <= 5),
         |$bruteTopCtes
         |$recallSelectSql""".stripMargin),

    // Recall@5 of the SAMPLED-training IVF build — the number that shows
    // the bounded-sample Lloyd recipe gives up nothing at the fixture's
    // scale (and ≤ measurement noise at 10M — the SCALE_ANN ivfks leg).
    Gate("ann_recall_ivfk_s", (s, d) => {
      val e = embs(s, d)
      annRecall(
        graft.operators.VectorOps.knnIvfKmeansSampled(
          e, "vec_id", "embedding", col("vec_id") < 8, 5,
          col("vec_id").between(KmCentLo, KmCentHi), KmIters, IvfProbes,
          EmbDims, IvfkSampleMod),
        e)
    },
      s"""WITH $ivfkSampledRankedCtes,
         |mt AS (SELECT qid, nid FROM r WHERE rnk <= 5),
         |$bruteTopCtes
         |$recallSelectSql""".stripMargin),

    // Recall@5 of the PQ/ADC path — gauges the m-subspace × codebook-size
    // compression trade (quantization error is the only loss source: PQ
    // scans ALL codes, so recall < 1 means ADC misranked, not missed).
    Gate("ann_recall_pq", (s, d) => {
      val e = embs(s, d)
      annRecall(
        graft.operators.VectorOps.knnPq(
          e, "vec_id", "embedding", col("vec_id") < 8, 5,
          col("vec_id").between(KmCentLo, KmCentHi), PqIters, PqM, EmbDims),
        e)
    },
      s"""WITH $pqRankedCtes,
         |mt AS (SELECT qid, nid FROM r WHERE rnk <= 5),
         |$bruteTopCtes
         |$recallSelectSql""".stripMargin),

    // Recall@5 of the composed IVF+PQ path — both loss sources at once
    // (unprobed cells + ADC misranking), the number a FAISS-shaped
    // deployment actually tunes against.
    Gate("ann_recall_ivfpq", (s, d) => {
      val e = embs(s, d)
      annRecall(
        graft.operators.VectorOps.knnIvfPq(
          e, "vec_id", "embedding", col("vec_id") < 8, 5,
          col("vec_id").between(KmCentLo, KmCentHi), KmIters, IvfProbes,
          PqIters, PqM, EmbDims),
        e)
    },
      s"""WITH $ivfPqRankedCtes,
         |mt AS (SELECT qid, nid FROM r WHERE rnk <= 5),
         |$bruteTopCtes
         |$recallSelectSql""".stripMargin),

    // k-NN GRAPH: top-3 neighbors for EVERY corpus vector via the LSH
    // buckets — the corpus-vs-corpus similarity shape a SemDeDup-style
    // curation step consumes (knn_lsh ranks for a small query set only).
    // Oracle replays the identical hyperplanes over all ids.
    // knn_graph: the knn_lsh replay with NO query predicate — candidates
    // from symmetric (table, bucket) collisions (x.id != y.id covers both
    // directions of each pair), exact cosine, top-KnnGraphK per vector.
    Gate("knn_graph", (s, d) =>
      graft.operators.VectorOps.knnGraph(
        embs(s, d), "vec_id", "embedding", KnnGraphK, LshTables, LshBits, EmbDims),
      s"WITH $knnGraphCtes\nSELECT qid, nid, rnk FROM kg"),

    // PAGERANK over that kNN graph: connectivity-weighted centrality (the
    // canonical-document / corpus-weighting signal), 5 integer-exact
    // power-iteration rounds — the oracle replays the full training run
    // (graph build + every round) in SQL, so the gate hashes the
    // iteration itself, not just plumbing.
    // graph_pagerank: the kNN-graph CTE chain feeding PrIters unrolled
    // integer power-iteration rounds — BIGINT floor division (`//`)
    // matches Spark's `div` on the all-positive rank units, so the oracle
    // re-trains the identical run. SUMs go through HUGEINT; every output
    // and every round's rank is cast back to BIGINT.
    Gate("graph_pagerank", (s, d) => {
      val kg = graft.operators.VectorOps.knnGraph(
        embs(s, d), "vec_id", "embedding", KnnGraphK, LshTables, LshBits, EmbDims)
      graft.operators.GraphOps.pageRank(
        kg.select(col("qid").as("src"), col("nid").as("dst")), PrIters)
    }, {
      val base = s"(15 * ($PrScale // nn.n)) // 100"
      val rounds = (1 to PrIters).map { t =>
        s"""c$t AS (SELECT e.dst, SUM(p.r // dg.deg) AS contrib
           |  FROM edges e JOIN pr${t - 1} p ON p.id = e.src
           |  JOIN deg dg ON dg.src = e.src GROUP BY 1),
           |pr$t AS (SELECT dg.src AS id,
           |  CAST($base + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS r
           |  FROM deg dg CROSS JOIN nn LEFT JOIN c$t c ON c.dst = dg.src)"""
      }.mkString(",\n")
      s"""WITH $knnGraphCtes,
         |edges AS (SELECT qid AS src, nid AS dst FROM kg),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
         |nn AS (SELECT COUNT(*) AS n FROM deg),
         |pr0 AS (SELECT src AS id, CAST($PrScale // nn.n AS BIGINT) AS r
         |  FROM deg CROSS JOIN nn),
         |$rounds
         |SELECT id AS vec_id, r AS pr FROM pr$PrIters""".stripMargin
    }),

    // PMI-style collocations: doc-level token-pair lift in integer
    // milli-units over the df-filtered vocabulary — phrase structure /
    // multi-token vocabulary candidates, support-floored.
    // corp_pmi: distinct (doc, token) incidence, df floor, per-doc pair
    // join, integer milli-lift — all-positive floor division both sides.
    Gate("corp_pmi", (s, d) =>
      graft.operators.CorpusOps.liftPairs(docs(s, d), "doc_id",
        PmiMinDf, PmiMinPair),
      s"""WITH toks AS (SELECT DISTINCT doc_id AS id, t FROM (
         |    SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS t
         |    FROM documents)),
         |n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
         |dfreq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM toks
         |  GROUP BY 1 HAVING COUNT(*) >= $PmiMinDf),
         |pairs AS (SELECT a.t AS ta, b.t AS tb, CAST(COUNT(*) AS BIGINT) AS n_pair
         |  FROM toks a JOIN toks b ON a.id = b.id AND a.t < b.t
         |  JOIN dfreq va ON va.t = a.t JOIN dfreq vb ON vb.t = b.t
         |  GROUP BY 1, 2 HAVING COUNT(*) >= $PmiMinPair)
         |SELECT ta, tb, n_pair, va.df AS df_a, vb.df AS df_b,
         |  CAST((1000 * n_pair * n.nd) // (va.df * vb.df) AS BIGINT) AS lift_milli
         |FROM pairs JOIN dfreq va ON va.t = ta JOIN dfreq vb ON vb.t = tb
         |CROSS JOIN n""".stripMargin),

    // DSIR-style importance scores: hashed-unigram log-ratio of a TARGET
    // distribution (source 'src0' as the curated domain proxy) vs the
    // raw rest — the importance-resampling data-selection signal, ⌊log₂⌋
    // -quantized so the oracle replays both distributions and every
    // doc's score exactly.
    // dsir_scores: replay the hashed-bucket fold (the corp_cms hex
    // arithmetic), both smoothed distributions, the bit-length log, and
    // every doc's summed log-ratio.
    Gate("dsir_scores", (s, d) =>
      graft.operators.CorpusOps.importanceScores(
        docs(s, d), "doc_id", "source", col("source") === "src0",
        DsirBuckets, DsirScale), {
      def hv(j: Int) = hexvalSql(s"substr(hx,$j,1)")
      val bucketFromHx =
        s"((${hv(29)})*4096 + (${hv(30)})*256 + (${hv(31)})*16 + (${hv(32)})) % $DsirBuckets"
      s"""WITH toks AS (SELECT doc_id AS id, source AS grp, source = 'src0' AS is_t,
         |    unnest(string_split(coalesce(text, ''), ' ')) AS t FROM documents),
         |hx0 AS (SELECT id, grp, is_t, md5('dsir:' || t) AS hx FROM toks),
         |bk AS (SELECT id, grp, is_t, $bucketFromHx AS b FROM hx0),
         |cnts AS (SELECT b, CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS tc,
         |  CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS rc FROM bk GROUP BY 1),
         |tot AS (SELECT CAST(SUM(tc) AS BIGINT) AS tt, CAST(SUM(rc) AS BIGINT) AS rt FROM cnts),
         |dom AS (SELECT CAST(r.range AS INTEGER) AS b FROM range($DsirBuckets) r),
         |w AS (SELECT dom.b,
         |  length(bin(((tot.tt + $DsirBuckets) * $DsirScale) // (COALESCE(c.tc, 0) + 1))) - 1 AS tbits,
         |  length(bin(((tot.rt + $DsirBuckets) * $DsirScale) // (COALESCE(c.rc, 0) + 1))) - 1 AS rbits
         |  FROM dom CROSS JOIN tot LEFT JOIN cnts c ON c.b = dom.b)
         |SELECT bk.id, bk.grp, CAST(COUNT(*) AS BIGINT) AS n_toks,
         |  CAST(SUM(w.rbits - w.tbits) AS BIGINT) AS score
         |FROM bk JOIN w USING (b) GROUP BY 1, 2""".stripMargin
    }),

    // DSIR calibration: band the importance score (fixed width 16, offset
    // so floor semantics agree across engines on negatives) and read the
    // target-share per band — scores separate target from raw iff the
    // share climbs with the band; the threshold-tuning surface.
    // dsir_calibration: the dsir_scores replay reduced to offset-shifted
    // fixed-width score bands and the per-band target share.
    Gate("dsir_calibration", (s, d) =>
      graft.operators.CorpusOps.importanceScores(
          docs(s, d), "doc_id", "source", col("source") === "src0",
          DsirBuckets, DsirScale)
        .select(expr(s"($DsirBandOffset + score) div 16").as("band"),
          when(col("grp") === "src0", 1L).otherwise(0L).as("is_t"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_docs"), sum("is_t").as("n_target")), {
      def hv(j: Int) = hexvalSql(s"substr(hx,$j,1)")
      val bucketFromHx =
        s"((${hv(29)})*4096 + (${hv(30)})*256 + (${hv(31)})*16 + (${hv(32)})) % $DsirBuckets"
      s"""WITH toks AS (SELECT doc_id AS id, source AS grp, source = 'src0' AS is_t,
         |    unnest(string_split(coalesce(text, ''), ' ')) AS t FROM documents),
         |hx0 AS (SELECT id, grp, is_t, md5('dsir:' || t) AS hx FROM toks),
         |bk AS (SELECT id, grp, is_t, $bucketFromHx AS b FROM hx0),
         |cnts AS (SELECT b, CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS tc,
         |  CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS rc FROM bk GROUP BY 1),
         |tot AS (SELECT CAST(SUM(tc) AS BIGINT) AS tt, CAST(SUM(rc) AS BIGINT) AS rt FROM cnts),
         |dom AS (SELECT CAST(r.range AS INTEGER) AS b FROM range($DsirBuckets) r),
         |w AS (SELECT dom.b,
         |  length(bin(((tot.tt + $DsirBuckets) * $DsirScale) // (COALESCE(c.tc, 0) + 1))) - 1 AS tbits,
         |  length(bin(((tot.rt + $DsirBuckets) * $DsirScale) // (COALESCE(c.rc, 0) + 1))) - 1 AS rbits
         |  FROM dom CROSS JOIN tot LEFT JOIN cnts c ON c.b = dom.b),
         |sc AS (SELECT bk.id, bk.grp, SUM(w.rbits - w.tbits) AS score
         |  FROM bk JOIN w USING (b) GROUP BY 1, 2)
         |SELECT CAST(($DsirBandOffset + score) // 16 AS BIGINT) AS band,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN grp = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_target
         |FROM sc GROUP BY 1""".stripMargin
    }),

    // PERSONALIZED PageRank over the kNN graph: teleport mass restricted
    // to the seed set vec_id < 8 — the similarity-based data-selection
    // readout ("rank the corpus by graph proximity to curated seed
    // docs"). The oracle replays graph build + every round; unreached
    // nodes report 0, which IS the signal.
    // graph_ppr: the same unrolled integer power iteration with teleport
    // mass confined to seeds vec_id < 8; node set = sources ∪ seeds.
    Gate("graph_ppr", (s, d) => {
      val e = embs(s, d)
      val kg = graft.operators.VectorOps.knnGraph(
        e, "vec_id", "embedding", KnnGraphK, LshTables, LshBits, EmbDims)
      graft.operators.GraphOps.personalizedPageRank(
        kg.select(col("qid").as("src"), col("nid").as("dst")),
        e.filter(col("vec_id") < 8).select(col("vec_id")), PrIters)
    }, {
      val rounds = (1 to PrIters).map { t =>
        s"""c$t AS (SELECT e.dst, SUM(p.r // dg.deg) AS contrib
           |  FROM edges e JOIN pr${t - 1} p ON p.id = e.src
           |  JOIN deg dg ON dg.src = e.src GROUP BY 1),
           |pr$t AS (SELECT f.id,
           |  CAST(f.s * ((15 * ($PrScale // ns.k)) // 100)
           |    + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS r
           |  FROM flg f CROSS JOIN ns LEFT JOIN c$t c ON c.dst = f.id)"""
      }.mkString(",\n")
      s"""WITH $knnGraphCtes,
         |edges AS (SELECT qid AS src, nid AS dst FROM kg),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
         |sd AS (SELECT vec_id AS id FROM embeddings WHERE vec_id < 8),
         |ns AS (SELECT COUNT(*) AS k FROM sd),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM edges UNION ALL SELECT id FROM sd)),
         |flg AS (SELECT n.id, CASE WHEN s.id IS NULL THEN 0 ELSE 1 END AS s
         |  FROM nodes n LEFT JOIN sd s ON s.id = n.id),
         |pr0 AS (SELECT f.id, CAST(f.s * ($PrScale // ns.k) AS BIGINT) AS r
         |  FROM flg f CROSS JOIN ns),
         |$rounds
         |SELECT id AS vec_id, r AS ppr FROM pr$PrIters""".stripMargin
    }),

    // TRIANGLE census of the undirected kNN graph: the local-clustering
    // signal (tight duplicate neighborhoods close triangles; chains
    // don't). Oracle replays graph build + wedge closure.
    // graph_triangles: undirect kg canonically (a<b), close wedges.
    Gate("graph_triangles", (s, d) => {
      val kg = graft.operators.VectorOps.knnGraph(
        embs(s, d), "vec_id", "embedding", KnnGraphK, LshTables, LshBits, EmbDims)
      graft.operators.GraphOps.triangles(
        kg.select(col("qid").as("src"), col("nid").as("dst")))
    },
      s"""WITH $knnGraphCtes,
         |ue AS MATERIALIZED (SELECT DISTINCT LEAST(qid, nid) AS a, GREATEST(qid, nid) AS b FROM kg),
         |tri AS (SELECT COUNT(*) AS t FROM ue e1
         |  JOIN ue e2 ON e2.a = e1.b
         |  JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b),
         |ns AS (SELECT COUNT(DISTINCT v) AS n FROM
         |  (SELECT a AS v FROM ue UNION ALL SELECT b FROM ue))
         |SELECT CAST(ns.n AS BIGINT) AS n_nodes,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ue) AS n_edges,
         |  CAST(tri.t AS BIGINT) AS n_triangles
         |FROM ns, tri""".stripMargin),

    // Connected-component SIZE census of the kNN graph — the coverage
    // readout of similarity clustering (how much of the corpus sits in
    // one giant near-dup blob vs isolated points). Labels come from the
    // same pointer-doubled min-label engine as dedup_clusters (O(log d)
    // checkpointed rounds over the edge list); vectors off the graph are
    // their own singleton component via the left join.
    // graph_components: the kNN-graph replay + recursive reachability
    // min-label (the dedup_clusters pattern), singletons recovered off
    // the embeddings table, reduced to the size census. The _from deploy
    // twin reuses the SQL VERBATIM (the sky_*_from pattern): answering
    // off the persisted edge artifact is row-for-row equal to the
    // rebuild by construction, and sharing the SQL makes the DRIVER
    // check that equivalence.
    Gate("graph_components", (s, d) => {
      val kg = graft.operators.VectorOps.knnGraph(
        embs(s, d), "vec_id", "embedding", KnnGraphK, LshTables, LshBits, EmbDims)
      graft.operators.DedupOps.nearDupClusters(
          embs(s, d).select(col("vec_id")), "vec_id",
          kg.select(col("qid").as("id_a"), col("nid").as("id_b")))
        .groupBy("cluster").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_components"))
    },
      graphComponentsSql),

    // DEPLOY-LANE twin of graph_components (the sky_*_from pattern): the
    // kNN edge set is built ONCE into a PERSISTED artifact (the
    // "kgraph_model" the bench deploy lane already times) and the
    // component collapse answers off the stored edges — no graph build
    // runs inside the algorithm. Reuses the graph_components oracle SQL
    // verbatim, so the driver checks stored-edges ≡ rebuild row-for-row.
    // The persisted edge list registers with Caches (released by
    // Verify/Bench hygiene after the result is consumed).
    Gate("graph_components_from", (s, d) => {
      val ee = embs(s, d)
      val kgEdges = graft.core.Caches.persistTracked(
        graft.operators.VectorOps.knnGraph(
            ee, "vec_id", "embedding", KnnGraphK, LshTables, LshBits, EmbDims)
          .select(col("qid").as("src"), col("nid").as("dst")))
      graft.operators.DedupOps.nearDupClusters(
          ee.select(col("vec_id")), "vec_id",
          kgEdges.select(col("src").as("id_a"), col("dst").as("id_b")))
        .groupBy("cluster").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_components"))
    },
      graphComponentsSql),

    // IVF (inverted-file) top-5: 16 deterministic corpus-vector centroids
    // (vec_id 8..23), nearest-cell assignment, 3 probed cells per query,
    // exact re-rank. The oracle replays the identical index in SQL.
    Gate("knn_ivf", (s, d) =>
      graft.operators.VectorOps.knnIvf(
        embs(s, d), "vec_id", "embedding", col("vec_id") < 8, 5,
        col("vec_id").between(IvfCentLo, IvfCentHi), IvfProbes), {
      val centCos = cosSql("e.v", "c.v")
      val candCos = cosSql("p.qv", "a.v")
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |sc AS (SELECT e.vec_id AS id, e.v, c.vec_id AS cid, $centCos AS sim
         |  FROM e, e c WHERE c.vec_id BETWEEN $IvfCentLo AND $IvfCentHi),
         |cells AS (SELECT id, v, cid FROM (
         |  SELECT id, v, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, cid) AS rn FROM sc)
         |  WHERE rn = 1),
         |prob AS (SELECT id AS qid, v AS qv, cid FROM (
         |  SELECT id, v, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, cid) AS rn
         |  FROM sc WHERE id < 8) WHERE rn <= $IvfProbes),
         |cand AS (SELECT p.qid, a.id AS nid, $candCos AS sim
         |  FROM prob p JOIN cells a USING (cid) WHERE a.id != p.qid)
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM cand)
         |WHERE rnk <= 5""".stripMargin
    }),

    // Deterministic distributed k-means: Lloyd iterations on the int8-
    // quantized embedding space (8 cells seeded from vec_id 8..15, 3
    // iterations). Integer distances, integer sums, and round-half-away
    // integer centroids make the whole TRAINING RUN engine-replayable —
    // the oracle re-trains the identical model in SQL and the final
    // assignment is hash-gated, not just the plumbing.
    Gate("emb_kmeans", (s, d) =>
      graft.operators.VectorOps.kmeansAssign(
        embs(s, d), "vec_id", "embedding",
        col("vec_id").between(KmCentLo, KmCentHi), KmIters, EmbDims),
      s"""WITH $kmeansCteSql
         |SELECT id AS vec_id, cid, CAST(d AS BIGINT) AS dist FROM (
         |  SELECT id, cid, d, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
         |  FROM (SELECT q.id, c.cid, $kmDistSql AS d FROM q, c$KmIters c)) WHERE rn = 1""".stripMargin),

    // k-means with farthest-first (maximin) seeding — index construction
    // with NO privileged seed rows: seed 1 = min id, each next seed the
    // argmax of min distance to chosen seeds, then the same Lloyd loop.
    // The oracle replays seeding AND training.
    Gate("emb_kmeanspp", (s, d) =>
      graft.operators.VectorOps.kmeansFarthestFirst(
        embs(s, d), "vec_id", "embedding", KmppK, KmIters, EmbDims),
      s"""WITH $kmppCteSql
         |SELECT id AS vec_id, cid, CAST(d AS BIGINT) AS dist FROM (
         |  SELECT id, cid, d, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
         |  FROM (SELECT q.id, c.cid, $kmDistSql AS d FROM q, c$KmIters c)) WHERE rn = 1""".stripMargin),

    // SAMPLED farthest-first: the k−1 maximin seeding scans AND Lloyd run
    // over the 1-in-IvfkSampleMod hash sample (seeding is the scan-budget
    // hot spot at corpus scale — the operator's documented fix), full
    // corpus assigned once. The oracle replays the draw, every seeding
    // argmax over the sample, training, and assignment.
    // emb_kmeanspp_s: the sampled seeding/training chain, assignment over
    // the FULL quantized corpus exactly as the engine.
    Gate("emb_kmeanspp_s", (s, d) =>
      graft.operators.VectorOps.kmeansFarthestFirstSampled(
        embs(s, d), "vec_id", "embedding", KmppK, KmIters, EmbDims,
        IvfkSampleMod),
      s"""WITH $kmppSampledCteSql
         |SELECT id AS vec_id, cid, CAST(d AS BIGINT) AS dist FROM (
         |  SELECT id, cid, d, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
         |  FROM (SELECT q.id, c.cid, $kmDistSql AS d FROM q, c$KmIters c)) WHERE rn = 1""".stripMargin),

    // Cluster-balanced (diversity-capped) sampling over the emb_kmeans
    // cells: keep the 10 lowest ids per cell, reporting pre-cap cell
    // population — the density-flattening sampler of the SemDeDup family
    // (cells prune density here instead of duplicates). The oracle
    // replays training, assignment, the per-cell rank, and the cap.
    // samp_cluster: the emb_kmeans training/assignment replay, then the
    // per-cell id-order rank, the cap at 10, and the pre-cap cell sizes.
    Gate("samp_cluster", (s, d) =>
      graft.operators.VectorOps.clusterBalancedSample(
        embs(s, d), "vec_id", "embedding",
        col("vec_id").between(KmCentLo, KmCentHi), KmIters, EmbDims, 10),
      s"""WITH $kmeansCteSql,
         |asg AS (SELECT id, cid FROM (
         |  SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
         |  FROM (SELECT q.id, c.cid, $kmDistSql AS d FROM q, c$KmIters c)) WHERE rn = 1),
         |sz AS (SELECT cid, COUNT(*) AS n FROM asg GROUP BY cid),
         |rk AS (SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY id) AS rn FROM asg)
         |SELECT rk.id AS vec_id, rk.cid AS cid, CAST(rk.rn AS BIGINT) AS rn,
         |  CAST(sz.n AS BIGINT) AS cell_n
         |FROM rk JOIN sz USING (cid) WHERE rk.rn <= 10""".stripMargin),

    // IVF search over the k-means-TRAINED coarse quantizer — the realistic
    // ANN pipeline (train → assign → multi-probe → exact re-rank), every
    // stage of which the oracle replays.
    // knn_ivf_kmeans: the emb_kmeans training chain, then argmin cell per
    // vector, top-`probes` cells per query (same integer distance, ties to
    // lowest cid), candidates from probed cells, exact-cosine re-rank.
    Gate("knn_ivf_kmeans", (s, d) =>
      graft.operators.VectorOps.knnIvfKmeans(
        embs(s, d), "vec_id", "embedding", col("vec_id") < 8, 5,
        col("vec_id").between(KmCentLo, KmCentHi), KmIters, IvfProbes, EmbDims),
      s"""WITH $ivfKmeansRankedCtes
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 5""".stripMargin),

    // SAMPLED-training IVF: the same trained-quantizer search with Lloyd
    // scanning only the 1-in-IvfkSampleMod salted-md5 hash sample (the
    // FAISS-style bounded-sample index build — at 10M vectors the full-
    // scan build is ~3× the sampled one at equal recall). The oracle
    // replays the draw, the sampled training chain, and the FULL-corpus
    // assignment bit-for-bit.
    // knn_ivfk_sampled: the same replay with the Lloyd chain trained on
    // the 1-in-IvfkSampleMod salted-md5 sample (CTE `qs`); assignment,
    // probing, and re-rank run over the FULL corpus exactly as the engine.
    Gate("knn_ivfk_sampled", (s, d) =>
      graft.operators.VectorOps.knnIvfKmeansSampled(
        embs(s, d), "vec_id", "embedding", col("vec_id") < 8, 5,
        col("vec_id").between(KmCentLo, KmCentHi), KmIters, IvfProbes,
        EmbDims, IvfkSampleMod),
      s"""WITH $ivfkSampledRankedCtes
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 5""".stripMargin),

    // Integer JL random projection: 64-dim quantized embeddings to 8
    // deterministic integer directions — dimensionality reduction as a
    // pure per-row map, replayed exactly by the oracle's literal weights.
    // (flattened to one BIGINT column per projected dimension — the
    // driver's compare is scalar-columned.)
    // emb_project: the quantization CTEs + literal integer weight arrays,
    // one output column per projected dimension.
    Gate("emb_project", (s, d) =>
      graft.operators.VectorOps.projectInt(
          embs(s, d), "vec_id", "embedding", ProjDims, EmbDims)
        .select(col("id").as("vec_id") +:
          (0 until ProjDims).map(j =>
            element_at(col("proj"), j + 1).as(s"p$j")): _*), {
      val cols = (0 until ProjDims).map { j =>
        val w = (0 until EmbDims)
          .map(i => graft.operators.VectorOps.projWeight(j * EmbDims + i))
          .mkString("[", ", ", "]")
        s"CAST(list_sum([v[i] * ($w)[i] for i in range(1, ${EmbDims + 1})]) AS BIGINT) AS p$j"
      }.mkString(",\n  ")
      s"""WITH $kmQuantCtes
         |SELECT id AS vec_id,
         |  $cols
         |FROM q""".stripMargin
    }),

    // Product-quantization ANN: 4 independent 16-dim sub-codebooks (8
    // codes each, seeds vec_id 8..15, 2 Lloyd iterations), the corpus
    // encoded to 4 codes/vector, queries answered by summed ADC table
    // lookups. The oracle replays training, encoding, and every ADC sum.
    // knn_pq: per-subspace training replay, corpus codes, query ADC
    // tables, then approximate distance = sum of per-subspace lookups
    // (one UNION ALL branch per subspace), ranked (adc asc, nid asc).
    Gate("knn_pq", (s, d) =>
      graft.operators.VectorOps.knnPq(
        embs(s, d), "vec_id", "embedding", col("vec_id") < 8, 5,
        col("vec_id").between(KmCentLo, KmCentHi), PqIters, PqM, EmbDims),
      s"""WITH $pqRankedCtes
         |SELECT qid, nid, CAST(adc AS BIGINT) AS adc, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 5""".stripMargin),

    // IVF+PQ composition — coarse cells restrict candidates, ADC ranks
    // them on codes only (the FAISS IVFPQ shape, non-residual). Both
    // models and every ADC sum replay in the oracle.
    // knn_ivfpq: the coarse kmeans chain AND the PQ subspace chains side by
    // side (both consume `q`), then candidates restricted to probed cells
    // and ranked by summed ADC lookups on the candidates' codes.
    Gate("knn_ivfpq", (s, d) =>
      graft.operators.VectorOps.knnIvfPq(
        embs(s, d), "vec_id", "embedding", col("vec_id") < 8, 5,
        col("vec_id").between(KmCentLo, KmCentHi), KmIters, IvfProbes,
        PqIters, PqM, EmbDims),
      s"""WITH $ivfPqRankedCtes
         |SELECT qid, nid, CAST(adc AS BIGINT) AS adc, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 5""".stripMargin),

    // FULLY SAMPLED IVF+PQ build — coarse quantizer AND all m
    // sub-codebooks train on the 1-in-IvfkSampleMod salted-md5 sample
    // (the bounded-cost index build at 10⁸⁺ vectors); assignment,
    // encoding, and search cover the full corpus. The oracle replays the
    // draw, both sampled training chains, and every ADC sum.
    // knn_ivfpq_sampled: the ivfk-sampled coarse chain beside PQ chains
    // trained from the same `qs` sample slices; full-corpus assignment,
    // encoding, probing, and ADC — the engine's fully sampled build.
    Gate("knn_ivfpq_sampled", (s, d) =>
      graft.operators.VectorOps.knnIvfPqSampled(
        embs(s, d), "vec_id", "embedding", col("vec_id") < 8, 5,
        col("vec_id").between(KmCentLo, KmCentHi), KmIters, IvfProbes,
        PqIters, PqM, EmbDims, IvfkSampleMod),
      s"""WITH $ivfPqSampledRankedCtes
         |SELECT qid, nid, CAST(adc AS BIGINT) AS adc, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 5""".stripMargin),

    // RESIDUAL IVF+PQ — the full FAISS form: codes quantize the
    // within-cell displacement v − centroid(cell), ADC tables are
    // per-(query, probed cell). Oracle replays coarse training, residual
    // book training, encoding, and every cell-dependent table.
    Gate("knn_ivfpq_res", (s, d) =>
      graft.operators.VectorOps.knnIvfPqResidual(
        embs(s, d), "vec_id", "embedding", col("vec_id") < 8, 5,
        col("vec_id").between(KmCentLo, KmCentHi), KmIters, IvfProbes,
        PqIters, PqM, EmbDims),
      s"""WITH $rIvfPqRankedCtes
         |SELECT qid, nid, CAST(adc AS BIGINT) AS adc, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 5""".stripMargin),

    // Recall@5 of the fully sampled IVF+PQ build vs the exact baseline —
    // the number showing what the bounded-sample books give up (at the
    // fixture scale the sample is small enough to genuinely differ from
    // the full-scan books, so this is a real trade readout, not a no-op).
    Gate("ann_recall_ivfpq_s", (s, d) => annRecall(
      graft.operators.VectorOps.knnIvfPqSampled(
        embs(s, d), "vec_id", "embedding", col("vec_id") < 8, 5,
        col("vec_id").between(KmCentLo, KmCentHi), KmIters, IvfProbes,
        PqIters, PqM, EmbDims, IvfkSampleMod),
      embs(s, d)),
      s"""WITH $ivfPqSampledRankedCtes,
         |mt AS (SELECT qid, nid FROM r WHERE rnk <= 5),
         |$bruteTopCtes
         |$recallSelectSql""".stripMargin),

    // Recall@5 of the residual path vs the exact baseline — measures what
    // residual encoding buys over knn_ivfpq at identical m/probes/iters.
    Gate("ann_recall_ivfpq_res", (s, d) => annRecall(
      graft.operators.VectorOps.knnIvfPqResidual(
        embs(s, d), "vec_id", "embedding", col("vec_id") < 8, 5,
        col("vec_id").between(KmCentLo, KmCentHi), KmIters, IvfProbes,
        PqIters, PqM, EmbDims),
      embs(s, d)),
      s"""WITH $rIvfPqRankedCtes,
         |mt AS (SELECT qid, nid FROM r WHERE rnk <= 5),
         |$bruteTopCtes
         |$recallSelectSql""".stripMargin),

    // Residual IVF+PQ with the EXACT REFINE stage (the FAISS
    // IndexRefineFlat composition): ADC top-RrCand per query re-ranked by
    // full-precision cosine to the final top-5. The oracle replays the
    // whole chain — coarse + residual book training, encoding, per-cell
    // ADC tables, the RrCand pool cut, and the exact refine.
    // knn_ivfpq_rerank: the full residual replay, the ADC top-RrCand pool
    // cut, then the exact-cosine refine over the raw float vectors with
    // knn_brute's (sim desc, nid) order. The *_from deploy twins reuse
    // these oracles VERBATIM (the sky_*_from pattern): model-reuse search
    // is row-for-row equal to the from-scratch gate by construction, and
    // sharing the SQL makes the DRIVER check that equivalence.
    Gate("knn_ivfpq_rerank", (s, d) =>
      graft.operators.VectorOps.knnIvfPqResidualRerank(
        embs(s, d), "vec_id", "embedding", col("vec_id") < 8, 5,
        col("vec_id").between(KmCentLo, KmCentHi), KmIters, IvfProbes,
        PqIters, PqM, EmbDims, RrCand),
      knnIvfPqRerankSql),

    // Recall@5 of the refined path vs the exact baseline — the number
    // that shows what the refine stage recovers over raw ADC ranking
    // (ann_recall_ivfpq_res) at identical index hyperparameters.
    Gate("ann_recall_ivfpq_rr", (s, d) => annRecall(
      graft.operators.VectorOps.knnIvfPqResidualRerank(
        embs(s, d), "vec_id", "embedding", col("vec_id") < 8, 5,
        col("vec_id").between(KmCentLo, KmCentHi), KmIters, IvfProbes,
        PqIters, PqM, EmbDims, RrCand),
      embs(s, d)),
      annRecallIvfPqRrSql),

    // DEPLOY-LANE twins of the refined path (the sky_*_from pattern):
    // train the IvfPqResModel ONCE, answer through
    // knnIvfPqResidualRerankFrom over the model's PERSISTED codes — no
    // training or encoding job runs inside the search. Both reuse the
    // from-scratch gates' oracle SQL verbatim, so the driver checks
    // model-reuse ≡ from-scratch row-for-row — the serving-path shape a
    // production index actually runs (build once, refine per query batch).
    Gate("knn_ivfpq_rerank_from", (s, d) => {
      val ee = embs(s, d)
      graft.operators.VectorOps.knnIvfPqResidualRerankFrom(
        graft.operators.VectorOps.ivfPqResidualModel(
          graft.operators.VectorOps.ivfModel(ee, "vec_id", "embedding",
            col("vec_id").between(KmCentLo, KmCentHi), KmIters, EmbDims),
          PqIters, PqM),
        ee, "vec_id", "embedding", col("vec_id") < 8, 5, IvfProbes, RrCand)
    },
      knnIvfPqRerankSql),

    Gate("ann_recall_ivfpq_rr_from", (s, d) => {
      val ee = embs(s, d)
      annRecall(
        graft.operators.VectorOps.knnIvfPqResidualRerankFrom(
          graft.operators.VectorOps.ivfPqResidualModel(
            graft.operators.VectorOps.ivfModel(ee, "vec_id", "embedding",
              col("vec_id").between(KmCentLo, KmCentHi), KmIters, EmbDims),
            PqIters, PqM),
          ee, "vec_id", "embedding", col("vec_id") < 8, 5, IvfProbes, RrCand),
        ee)
    },
      annRecallIvfPqRrSql),

    // SemDeDup-style semantic dedup: k-means cells (the trained quantizer,
    // same seeds/iters as emb_kmeans) as blocking buckets, exact cosine
    // >= 0.35 within cells, connected components — every vector labeled
    // with its semantic cluster's min id. The oracle replays training,
    // assignment, the within-cell pair join, and the component collapse.
    // semdedup: the emb_kmeans training replay, then cells as blocking
    // buckets — exact cosine within cells, recursive-CTE components (the
    // dedup_clusters collapse shape), singletons labeled by their own id.
    // The _from deploy twin reuses the SQL VERBATIM (see
    // graph_components' note).
    Gate("semdedup", (s, d) =>
      graft.operators.VectorOps.semDedupClusters(
        embs(s, d), "vec_id", "embedding",
        col("vec_id").between(KmCentLo, KmCentHi), KmIters, EmbDims, SemMinCos)
        .select(col("doc_id").as("vec_id"), col("cluster")),
      semdedupSql),

    // DEPLOY-LANE twin of semdedup (the sky_*_from / rerank_from
    // pattern): train the IvfModel ONCE, collapse through
    // semDedupClustersFrom over the model's PERSISTED cell assignment —
    // no training job runs inside the dedup. Reuses the semdedup oracle
    // SQL verbatim, so the driver checks model-reuse ≡ from-scratch
    // row-for-row — the serving shape a production curation run executes
    // (quantizer trained once, every batch deduped through its cells).
    Gate("semdedup_from", (s, d) => {
      val ee = embs(s, d)
      graft.operators.VectorOps.semDedupClustersFrom(
        graft.operators.VectorOps.ivfModel(ee, "vec_id", "embedding",
          col("vec_id").between(KmCentLo, KmCentHi), KmIters, EmbDims),
        ee, "vec_id", SemMinCos)
        .select(col("doc_id").as("vec_id"), col("cluster"))
    },
      semdedupSql),

    // Embedding-cosine near-dup pairs among LSH-colliding candidates
    // (the oracle replays the identical hyperplanes, so the candidate set —
    // not just the verified set — is oracle-checked).
    Gate("emb_neardup", (s, d) =>
      graft.operators.VectorOps.cosNearDups(
        embs(s, d), "vec_id", "embedding", LshTables, LshBits, EmbDims, 0.35), {
      val pdot = s"list_sum([CAST(e.v[i] AS DOUBLE) * pl.p[i] for i in range(1, ${EmbDims + 1})])"
      val cos  = cosSql("a.v", "b.v")
      s"""WITH planes(t, b, p) AS (VALUES
         |$planesValuesSql),
         |e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |buck AS (SELECT e.vec_id AS id, pl.t,
         |  CAST(SUM(CASE WHEN $pdot >= 0 THEN (1 << pl.b) ELSE 0 END) AS INTEGER) AS bucket
         |  FROM e, planes pl GROUP BY 1, 2),
         |cand AS (SELECT x.id AS id_a, y.id AS id_b
         |  FROM buck x JOIN buck y ON x.t = y.t AND x.bucket = y.bucket AND x.id < y.id
         |  GROUP BY 1, 2)
         |SELECT c.id_a, c.id_b FROM cand c
         |JOIN e a ON a.vec_id = c.id_a JOIN e b ON b.vec_id = c.id_b
         |WHERE $cos >= 0.35""".stripMargin
    }),

    // Composed curation pipeline — the chain a real training-data run
    // executes: keep each exact-dup cluster's canonical doc, gate on
    // quality score >= 3, assign the content-hash split, count per
    // (lang, split). One semi-join against the dedup keep-list (broadcast
    // at these cardinalities, hash-bucketed at 100 TB), everything else
    // per-row expressions.
    Gate("curate_counts", (s, d) => {
      val dd = docs(s, d)
      val keep = TextOps.dedupExact(dd).select(col("keep_id").as("doc_id"))
      dd.join(keep, Seq("doc_id"), "left_semi")
        .filter(TextOps.qualityScoreCol(col("text")) >= 3)
        .groupBy(col("lang"), TextOps.splitCol(col("text"), 80, 10).as("split"))
        .agg(count(lit(1)).as("cnt"))
    },
      s"""WITH k AS (SELECT MIN(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))),
         |t AS (SELECT d.lang, string_split(d.text, ' ') AS w, len(d.text) AS nc,
         |  ${bucketSql("d.text")} AS bkt
         |  FROM documents d JOIN k USING (doc_id)),
         |f AS (SELECT lang, bkt,
         |  $scoreSql
         |  AS score FROM t)
         |SELECT lang,
         |  CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
         |  CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM f WHERE score >= 3 GROUP BY 1, 2""".stripMargin),

    // The FULL curation chain a production run executes — exact dedup →
    // fuzzy near-dup cluster collapse (keep each cluster's min doc id) →
    // quality gate → content-hash split — composed from the same operators
    // the individual gates check. Both keep-lists are semi-joins (broadcast
    // at gate scale, hash-bucketed at 100 TB); the only iterative piece is
    // the pointer-doubled component loop on the (tiny) pair graph.
    // curate_fuzzy: the dedup_exact keep-list, the dedup_clusters recursive
    // collapse over the KEPT docs' J >= 1/2 pair graph, then the
    // curate_counts quality/split tail — all fragments shared with the
    // individual gates so the surfaces cannot drift.
    Gate("curate_fuzzy", (s, d) => {
      val dd = docs(s, d)
      val exact = TextOps.dedupExact(dd).select(col("keep_id").as("doc_id"))
      val kept = dd.join(exact, Seq("doc_id"), "left_semi")
      val clusters = graft.operators.DedupOps.nearDupClusters(kept, "doc_id",
        graft.operators.DedupOps.minhashNearDups(kept, "doc_id", 3, 12, 3, 1, 2))
      val keepFuzzy = clusters.filter(col("doc_id") === col("cluster"))
        .select("doc_id")
      kept.join(keepFuzzy, Seq("doc_id"), "left_semi")
        .filter(TextOps.qualityScoreCol(col("text")) >= 3)
        .groupBy(col("lang"), TextOps.splitCol(col("text"), 80, 10).as("split"))
        .agg(count(lit(1)).as("cnt"))
    },
      s"""WITH RECURSIVE k AS (SELECT MIN(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))),
         |kd AS (SELECT d.* FROM documents d JOIN k USING (doc_id)),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM kd),
         |sh AS (SELECT doc_id,
         |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
         |  FROM toks WHERE len(w) >= 3),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.s, b.s)) * 2 >= len(list_distinct(list_concat(a.s, b.s)))),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT re.id, e.b FROM reach re JOIN edges e ON e.a = re.r),
         |lbl AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
         |keepf AS (SELECT kd.doc_id FROM kd LEFT JOIN lbl l ON kd.doc_id = l.id
         |  WHERE COALESCE(l.cluster, kd.doc_id) = kd.doc_id),
         |t AS (SELECT d.lang, string_split(d.text, ' ') AS w, len(d.text) AS nc,
         |  ${bucketSql("d.text")} AS bkt
         |  FROM kd d JOIN keepf USING (doc_id)),
         |f AS (SELECT lang, bkt,
         |  $scoreSql
         |  AS score FROM t)
         |SELECT lang,
         |  CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
         |  CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM f WHERE score >= 3 GROUP BY 1, 2""".stripMargin),

    // Per-vector int8 quantization (scale = max|x|/127, floor(+0.5)
    // rounding), gated through exact integer aggregates of the quantized
    // array plus the double scale.
    Gate("emb_quant", (s, d) =>
      graft.operators.VectorOps.quantizeInt8(embs(s, d), "vec_id", "embedding")
        .select(col("id").as("vec_id"), col("scale"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(col("q")).as("q_min"), array_max(col("q")).as("q_max")),
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        |s AS (SELECT vec_id, v, list_max([abs(x) for x in v]) / 127.0 AS scale FROM e),
        |q AS (SELECT vec_id, scale,
        |  CASE WHEN scale > 0 THEN [CAST(FLOOR(x / scale + 0.5) AS BIGINT) for x in v]
        |       ELSE [CAST(0 AS BIGINT) for x in v] END AS q FROM s)
        |SELECT vec_id, scale, CAST(list_sum(q) AS BIGINT) AS q_sum,
        |  CAST(list_min(q) AS BIGINT) AS q_min, CAST(list_max(q) AS BIGINT) AS q_max
        |FROM q""".stripMargin),

    // Deterministic content-hash train/val/test split (80/10/10) — stable
    // under any re-sharding; counted per (source, split).
    Gate("split_counts", (s, d) =>
      docs(s, d)
        .groupBy(col("source"), TextOps.splitCol(col("text"), 80, 10).as("split"))
        .agg(count(lit(1)).as("cnt")),
      s"""WITH b AS (SELECT source, ${bucketSql("text")} AS bkt FROM documents)
         |SELECT source,
         |  CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
         |  CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2""".stripMargin),

    // -------------------------------------------------------------- events
    // Gap-based sessionization (30-min gap) — the classic event-stream
    // windowing op: lag over (user, time), count gap breaks. Exact integer
    // arithmetic via microsecond epochs.
    Gate("evt_sessions", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      events(s, d)
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"))
        .select(col("user_id"),
          when(col("us") - lag("us", 1).over(w) > SessionGapUs, 1)
            .otherwise(0).as("brk"))
        .groupBy("user_id")
        .agg((sum(col("brk")) + lit(1)).as("n_sessions"), count(lit(1)).as("n_events"))
    },
      s"""WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         |b AS (SELECT user_id,
         |  CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > $SessionGapUs
         |       THEN 1 ELSE 0 END AS brk FROM t)
         |SELECT user_id, CAST(SUM(brk) + 1 AS BIGINT) AS n_sessions,
         |CAST(COUNT(*) AS BIGINT) AS n_events
         |FROM b GROUP BY user_id""".stripMargin),

    // Tumbling 1-hour event-time windows per event type — the SAME code the
    // streaming path runs (withWatermark is a no-op in batch), gated here
    // against DuckDB's time_bucket. Output keyed by epoch-micros window
    // start (no cross-engine timestamp encoding in the compare).
    Gate("evt_windows", (s, d) =>
      graft.streaming.EventWindows.windowedKeyCounts(
          events(s, d).select(col("event_type"),
            timestamp_micros(expr("ts div 1000")).as("ts")),
          "ts", "event_type", "1 hour", "10 minutes")
        .select(unix_micros(col("w_start")).as("w_us"), col("event_type"), col("cnt")),
      """SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS w_us,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin),

    // SLIDING event-time windows (1 h length, 30 min slide — each event in
    // exactly 2 windows): the overlap variant of evt_windows, same
    // batch/stream code path.
    // evt_sliding: each event lands in the 30-min-aligned window starting
    // at its bucket and the one 30 min earlier (1 h length = 2 slides).
    Gate("evt_sliding", (s, d) =>
      events(s, d)
        .select(col("event_type"),
          timestamp_micros(expr("ts div 1000")).as("ts"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_micros(col("w.start")).as("w_us"), col("event_type"),
          col("cnt")),
      """SELECT epoch_us(time_bucket(INTERVAL '30 minutes', ts)) - 1800000000 * k AS w_us,
        |  event_type, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events, (VALUES (0), (1)) t(k)
        |GROUP BY 1, 2""".stripMargin),

    // Gap-based sessions via the built-in merging session_window — the SAME
    // code the streaming path runs (watermark a no-op in batch), per-session
    // rows keyed by session-start epoch-micros. Complements evt_sessions'
    // lag-based per-user totals with a different algorithm gated against a
    // lag+cumsum oracle (break on >= gap: session_window is half-open).
    Gate("evt_session_windows", (s, d) =>
      graft.streaming.EventWindows.sessionCounts(
          events(s, d).select(col("user_id"),
            timestamp_micros(expr("ts div 1000")).as("ts")),
          "ts", "user_id", "30 minutes", "10 minutes")
        .select(col("user_id"), unix_micros(col("w_start")).as("w_us"),
          col("n_events")),
      s"""WITH t AS (SELECT user_id, epoch_us(ts) AS us FROM events),
         |b AS (SELECT user_id, us,
         |  CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) >= $SessionGapUs
         |       THEN 1 ELSE 0 END AS brk FROM t),
         |s AS (SELECT user_id, us,
         |  SUM(brk) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM b)
         |SELECT user_id, CAST(MIN(us) AS BIGINT) AS w_us, CAST(COUNT(*) AS BIGINT) AS n_events
         |FROM s GROUP BY user_id, sid""".stripMargin),

    // Per-event-type top-3 users by event count (rank window, deterministic
    // (count desc, user_id) tiebreak).
    Gate("evt_topk", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy(col("cnt").desc, col("user_id"))
      events(s, d)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("event_type"), col("user_id"), col("cnt"),
          col("rnk").cast("long").as("rnk"))
    },
      """WITH c AS (SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, cnt,
        |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cnt DESC, user_id) AS rnk FROM c)
        |SELECT event_type, user_id, cnt, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 3""".stripMargin),

    // As-of join: each purchase enriched with the latest preceding view
    // (inclusive ts, ties to the highest event id) by the same user — the
    // union + running-last window shape, never a per-key range product.
    // evt_asof: replays the union + running last_value IGNORE NULLS window
    // with the identical (us, side, event_id) ordering, so inclusive-ts and
    // equal-ts tie semantics are compared exactly, nulls included.
    Gate("evt_asof", (s, d) => {
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), expr("ts div 1000").as("us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("us"),
          col("event_id").as("v_event_id"), col("us").as("v_us"))
      graft.operators.AsofJoin.asofJoin(
        purchases, views, "user_id", "us", "event_id",
        Seq("v_event_id", "v_us"))
    },
      """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
        |u AS (
        |  SELECT event_id, user_id, us, 1 AS side,
        |    CAST(NULL AS BIGINT) AS pv, CAST(NULL AS BIGINT) AS pu FROM ev
        |  WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT event_id, user_id, us, 0 AS side, event_id AS pv, us AS pu FROM ev
        |  WHERE event_type = 'view'),
        |w AS (SELECT event_id, user_id, us, side,
        |  last_value(pv IGNORE NULLS) OVER win AS v_event_id,
        |  last_value(pu IGNORE NULLS) OVER win AS v_us
        |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY us, side, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, us, v_event_id, v_us FROM w WHERE side = 1""".stripMargin),

    // Forward as-of: each purchase enriched with the user's NEXT view at or
    // after it (ties -> lowest event_id) — label/outcome attribution.
    // evt_asof_fwd: the evt_asof replay with the per-user scan reversed
    // (us DESC, ord DESC) — the running last then holds the nearest
    // FOLLOWING view, ties to the lowest event_id.
    Gate("evt_asof_fwd", (s, d) => {
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), expr("ts div 1000").as("us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("us"),
          col("event_id").as("v_event_id"), col("us").as("v_us"))
      graft.operators.AsofJoin.asofJoinForward(
        purchases, views, "user_id", "us", "event_id",
        Seq("v_event_id", "v_us"))
    },
      """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
        |u AS (
        |  SELECT event_id, user_id, us, 1 AS side,
        |    CAST(NULL AS BIGINT) AS pv, CAST(NULL AS BIGINT) AS pu FROM ev
        |  WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT event_id, user_id, us, 0 AS side, event_id AS pv, us AS pu FROM ev
        |  WHERE event_type = 'view'),
        |w AS (SELECT event_id, user_id, us, side,
        |  last_value(pv IGNORE NULLS) OVER win AS v_event_id,
        |  last_value(pu IGNORE NULLS) OVER win AS v_us
        |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY us DESC, side, event_id DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, us, v_event_id, v_us FROM w WHERE side = 1""".stripMargin),

    // Range join: views by the same user in the 10 minutes strictly before
    // each error event, counted per error — bucket-blocked equi-join on
    // (user, time bucket), never the per-key cross-product.
    // evt_range: DuckDB evaluates the range predicate directly (its own
    // planner picks the strategy) — the bucket blocking must be invisible
    // in the result.
    Gate("evt_range", (s, d) => {
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), expr("ts div 1000").as("us"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("us").as("v_us"))
      graft.operators.RangeJoin.rangeJoin(errors, views, "user_id",
          "us", "v_us", -600000000L, -1L, Seq("v_us"))
        .groupBy("event_id", "user_id", "us")
        .agg(count(lit(1)).as("n_views"))
    },
      """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
        |e AS (SELECT event_id, user_id, us FROM ev WHERE event_type = 'error'),
        |v AS (SELECT user_id, us AS v_us FROM ev WHERE event_type = 'view')
        |SELECT e.event_id, e.user_id, e.us, CAST(COUNT(*) AS BIGINT) AS n_views
        |FROM e JOIN v ON e.user_id = v.user_id
        |  AND v.v_us BETWEEN e.us - 600000000 AND e.us - 1
        |GROUP BY 1, 2, 3""".stripMargin),

    // Ordered conversion funnel view → click → purchase: stage counts
    // with strictly-after reach semantics (an equal-timestamp pair does
    // not convert). Per-user frontier state only — never event rows.
    // evt_funnel: stage frontiers as chained per-user MIN CTEs with the
    // identical strictly-after (>) conversion rule.
    Gate("evt_funnel", (s, d) =>
      graft.operators.EventOps.funnel(
        events(s, d).select(col("user_id"), expr("ts div 1000").as("us"),
          col("event_type")),
        "user_id", "us", "event_type", Seq("view", "click", "purchase")),
      """WITH ev AS (SELECT user_id AS u, epoch_us(ts) AS us, event_type AS et FROM events),
        |s1 AS (SELECT u, MIN(us) AS t FROM ev WHERE et = 'view' GROUP BY 1),
        |s2 AS (SELECT ev.u, MIN(ev.us) AS t FROM ev JOIN s1 ON ev.u = s1.u
        |  WHERE ev.et = 'click' AND ev.us > s1.t GROUP BY 1),
        |s3 AS (SELECT ev.u, MIN(ev.us) AS t FROM ev JOIN s2 ON ev.u = s2.u
        |  WHERE ev.et = 'purchase' AND ev.us > s2.t GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
        |  CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
        |UNION ALL SELECT 2, 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
        |UNION ALL SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)""".stripMargin),

    // Cohort retention triangle: users active `day_off` days after their
    // first active day, keyed by cohort day. day_off=0 recovers cohort
    // sizes; state bounded by days², not users.
    // evt_retention: distinct (user, day) set joined to the per-user
    // first-day cohort — integer day indexes via positive floor division
    // (epoch_us is positive here; Spark div = DuckDB // only then).
    Gate("evt_retention", (s, d) =>
      graft.operators.EventOps.retention(
        events(s, d).select(col("user_id"), expr("ts div 1000").as("us")),
        "user_id", "us"),
      """WITH days AS (SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS day FROM events),
        |c AS (SELECT u, MIN(day) AS cohort_day FROM days GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_off, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM days JOIN c USING (u) GROUP BY 1, 2""".stripMargin),

    // Time-series resampling: per (event_type, user) daily counts with
    // every in-span missing day ZERO-FILLED via a per-group sequence
    // explode — "no row" and "zero" are different facts, and the fill
    // is sized by groups × span days, never event rows.
    // evt_daily_fill: per-group active-day counts, generate_series span
    // fill, zero-coalesced left join back.
    Gate("evt_daily_fill", (s, d) =>
      graft.operators.EventOps.dailyFill(
        events(s, d).select(col("event_type"), col("user_id"),
          expr("ts div 1000").as("us")),
        Seq("event_type", "user_id"), "us"),
      """WITH d AS (SELECT event_type, user_id,
        |  epoch_us(ts) // 86400000000 AS dy, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |s AS (SELECT event_type, user_id, MIN(dy) AS d0, MAX(dy) AS d1
        |  FROM d GROUP BY 1, 2),
        |f AS (SELECT event_type, user_id, unnest(generate_series(d0, d1)) AS day
        |  FROM s)
        |SELECT f.event_type, f.user_id, f.day,
        |  CAST(COALESCE(n, 0) AS BIGINT) AS n_events
        |FROM f LEFT JOIN d ON d.event_type = f.event_type
        |  AND d.user_id = f.user_id AND d.dy = f.day""".stripMargin),

    // Rolling 7-day event sum over the gap-filled series — the fill is
    // what makes the ROWS frame mean "days"; the moving baseline under
    // rate monitors and spike detectors.
    // evt_rolling: the evt_daily_fill replay + a 7-row rolling sum per
    // group over the filled days.
    Gate("evt_rolling", (s, d) =>
      graft.operators.EventOps.rollingDailySum(
        graft.operators.EventOps.dailyFill(
          events(s, d).select(col("event_type"), col("user_id"),
            expr("ts div 1000").as("us")),
          Seq("event_type", "user_id"), "us"),
        Seq("event_type", "user_id"), "day", "n_events", 7),
      """WITH d AS (SELECT event_type, user_id,
        |  epoch_us(ts) // 86400000000 AS dy, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |s AS (SELECT event_type, user_id, MIN(dy) AS d0, MAX(dy) AS d1
        |  FROM d GROUP BY 1, 2),
        |f AS (SELECT event_type, user_id, unnest(generate_series(d0, d1)) AS day
        |  FROM s),
        |z AS (SELECT f.event_type, f.user_id, f.day,
        |  CAST(COALESCE(n, 0) AS BIGINT) AS n_events
        |  FROM f LEFT JOIN d ON d.event_type = f.event_type
        |    AND d.user_id = f.user_id AND d.dy = f.day)
        |SELECT event_type, user_id, day, n_events,
        |  CAST(SUM(n_events) OVER (PARTITION BY event_type, user_id ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum_7d
        |FROM z""".stripMargin),

    // Exact integer EWMA (decay 7/8, 14-day truncation) over the per-type
    // filled daily series — the smoothed-rate baseline under monitors,
    // held as a scaled numerator so both engines agree bit-for-bit.
    // evt_ewma: per-type daily fill + the same 14-term LAG chain with
    // literal 7ʲ·8^(13−j) weights — pure BIGINT, engine-exact.
    Gate("evt_ewma", (s, d) =>
      graft.operators.EventOps.ewmaDaily(
        graft.operators.EventOps.dailyFill(
          events(s, d).select(col("event_type"), expr("ts div 1000").as("us")),
          Seq("event_type"), "us"),
        Seq("event_type"), "day", "n_events", EwmaWindow), {
      val terms = (0 until EwmaWindow).map { j =>
        val weight = BigInt(7).pow(j) * BigInt(8).pow(EwmaWindow - 1 - j)
        s"LAG(n_events, $j, 0) OVER w * ${weight.toLong}"
      }.mkString(" + ")
      s"""WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS dy,
         |  CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
         |s AS (SELECT event_type, MIN(dy) AS d0, MAX(dy) AS d1 FROM d GROUP BY 1),
         |f AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day FROM s),
         |z AS (SELECT f.event_type, f.day, CAST(COALESCE(n, 0) AS BIGINT) AS n_events
         |  FROM f LEFT JOIN d ON d.event_type = f.event_type AND d.dy = f.day)
         |SELECT event_type, day, n_events, CAST($terms AS BIGINT) AS ewma_num
         |FROM z WINDOW w AS (PARTITION BY event_type ORDER BY day)""".stripMargin
    }),

    // Integer z-score spike detector: flags days > 3σ above the trailing
    // 7-day baseline via the cross-multiplied test (w·x−S)² > 9(w·Q−S²)
    // — no floating-point mean/stddev, so the oracle replays it exactly.
    // evt_anomaly: the same fill + trailing-7 baseline window; the spike
    // test cross-multiplies to integers, so no float stddev either side.
    Gate("evt_anomaly", (s, d) =>
      graft.operators.EventOps.spikeDays(
        graft.operators.EventOps.dailyFill(
          events(s, d).select(col("event_type"), expr("ts div 1000").as("us")),
          Seq("event_type"), "us"),
        Seq("event_type"), "day", "n_events", SpikeWindow),
      s"""WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS dy,
         |  CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
         |s AS (SELECT event_type, MIN(dy) AS d0, MAX(dy) AS d1 FROM d GROUP BY 1),
         |f AS (SELECT event_type, unnest(generate_series(d0, d1)) AS day FROM s),
         |z AS (SELECT f.event_type, f.day, CAST(COALESCE(n, 0) AS BIGINT) AS n_events
         |  FROM f LEFT JOIN d ON d.event_type = f.event_type AND d.dy = f.day),
         |b AS (SELECT event_type, day, n_events,
         |  CAST(COUNT(n_events) OVER w AS BIGINT) AS bl_n,
         |  CAST(COALESCE(SUM(n_events) OVER w, 0) AS BIGINT) AS bl_sum,
         |  CAST(COALESCE(SUM(n_events * n_events) OVER w, 0) AS BIGINT) AS bl_sumsq
         |  FROM z WINDOW w AS (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN $SpikeWindow PRECEDING AND 1 PRECEDING))
         |SELECT event_type, day, n_events, bl_n, bl_sum, bl_sumsq,
         |  CAST(CASE WHEN bl_n = $SpikeWindow AND n_events * $SpikeWindow > bl_sum
         |    AND (n_events * $SpikeWindow - bl_sum) * (n_events * $SpikeWindow - bl_sum)
         |      > 9 * (bl_sumsq * $SpikeWindow - bl_sum * bl_sum)
         |    THEN 1 ELSE 0 END AS BIGINT) AS is_spike
         |FROM b""".stripMargin),

    // Inter-order gap cadence per market segment: per-customer lag over
    // (order day, key), gaps aggregated through the broadcastable
    // customer dimension join — integer day arithmetic throughout.
    // ord_gaps: same lag-over-(day, key) scan; gap multiset is invariant
    // to the equal-day tiebreak so the aggregate is engine-exact.
    Gate("ord_gaps", (s, d) =>
      graft.operators.EventOps.gapStats(
        s.read.parquet(s"$d/orders.parquet"), "o_custkey",
        expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')"), "o_orderkey",
        s.read.parquet(s"$d/customer.parquet"), "c_custkey", "c_mktsegment"),
      """WITH o AS (SELECT o_custkey AS k,
        |  CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day, o_orderkey FROM orders),
        |g AS (SELECT k, day - LAG(day) OVER (
        |  PARTITION BY k ORDER BY day, o_orderkey) AS gap FROM o)
        |SELECT c_mktsegment AS grp, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  CAST(SUM(gap) AS BIGINT) AS sum_gap_days,
        |  CAST(MAX(gap) AS BIGINT) AS max_gap_days
        |FROM g JOIN customer ON k = c_custkey
        |WHERE gap IS NOT NULL GROUP BY 1""".stripMargin),

    // Robust outlier monitor per event type: exact p25/p75 of the cent-
    // quantized value (floor(v·100+0.5) — engine-exact on 2-decimal
    // doubles), Tukey fence hi = p75 + 3·IQR div 2, and the count above
    // it. The quantiles come from the bounded histogram+cumsum shape and
    // the fence table broadcasts back onto one event scan.
    // evt_outliers: histogram+cumsum exact quartiles of the cent value,
    // integer Tukey fence, recount over the event scan.
    Gate("evt_outliers", (s, d) => {
      val ev = events(s, d).select(col("event_type"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("v100"))
      val q = graft.operators.CorpusOps.discQuantiles(
          ev, "event_type", "v100", Seq(25, 75))
        .select(col("event_type"), col("p25"), col("p75"),
          (col("p75") + expr("(3 * (p75 - p25)) div 2")).as("fence_hi"))
      ev.join(broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          min(col("p25")).as("p25"), min(col("p75")).as("p75"),
          min(col("fence_hi")).as("fence_hi"),
          sum(when(col("v100") > col("fence_hi"), 1L).otherwise(0L)).as("n_hi"))
    },
      """WITH ev AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100 FROM events),
        |h AS (SELECT event_type, v100 AS v, COUNT(*) AS c FROM ev GROUP BY 1, 2),
        |cum AS (SELECT event_type, v, SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |  SUM(c) OVER (PARTITION BY event_type) AS n FROM h),
        |q AS (SELECT event_type,
        |  MIN(CASE WHEN cum*100 >= n*25 THEN v END) AS p25,
        |  MIN(CASE WHEN cum*100 >= n*75 THEN v END) AS p75 FROM cum GROUP BY 1),
        |f AS (SELECT event_type, p25, p75, p75 + (3 * (p75 - p25)) // 2 AS fence_hi FROM q)
        |SELECT ev.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MIN(p25) AS BIGINT) AS p25, CAST(MIN(p75) AS BIGINT) AS p75,
        |  CAST(MIN(fence_hi) AS BIGINT) AS fence_hi,
        |  CAST(SUM(CASE WHEN v100 > fence_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
        |FROM ev JOIN f USING (event_type) GROUP BY 1""".stripMargin),

    // Time-to-convert quantiles: for users completing the full
    // view→click→purchase funnel, exact p25/p50/p75/p95 of the
    // first-view → conversion-purchase delay in whole seconds —
    // the funnel's latency readout, via the bounded histogram shape.
    // evt_ttc: funnel frontier chain (shared semantics with evt_funnel)
    // kept per-user, delta quantiles via the cum-hist shape.
    Gate("evt_ttc", (s, d) => {
      val rt = graft.operators.EventOps.funnelReachTimes(
        events(s, d).select(col("user_id"), expr("ts div 1000").as("us"),
          col("event_type")),
        "user_id", "us", "event_type", Seq("view", "click", "purchase"))
      graft.operators.CorpusOps.discQuantiles(
          rt.select(lit(1).as("g"),
            expr("(t3 - t1) div 1000000").as("ttc_s")),
          "g", "ttc_s", Seq(25, 50, 75, 95))
        .select(col("p25"), col("p50"), col("p75"), col("p95"))
        .crossJoin(rt.agg(count(lit(1)).as("n_converted")))
    },
      """WITH ev AS (SELECT user_id AS u, epoch_us(ts) AS us, event_type AS et FROM events),
        |s1 AS (SELECT u, MIN(us) AS t1 FROM ev WHERE et = 'view' GROUP BY 1),
        |s2 AS (SELECT ev.u, MIN(ev.us) AS t2 FROM ev JOIN s1 ON ev.u = s1.u
        |  WHERE ev.et = 'click' AND ev.us > s1.t1 GROUP BY 1),
        |s3 AS (SELECT ev.u, MIN(ev.us) AS t3 FROM ev JOIN s2 ON ev.u = s2.u
        |  WHERE ev.et = 'purchase' AND ev.us > s2.t2 GROUP BY 1),
        |d AS (SELECT (s3.t3 - s1.t1) // 1000000 AS v FROM s3 JOIN s1 ON s3.u = s1.u),
        |h AS (SELECT v, COUNT(*) AS c FROM d GROUP BY 1),
        |cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n FROM h)
        |SELECT CAST(MIN(CASE WHEN cum*100 >= n*25 THEN v END) AS BIGINT) AS p25,
        |  CAST(MIN(CASE WHEN cum*100 >= n*50 THEN v END) AS BIGINT) AS p50,
        |  CAST(MIN(CASE WHEN cum*100 >= n*75 THEN v END) AS BIGINT) AS p75,
        |  CAST(MIN(CASE WHEN cum*100 >= n*95 THEN v END) AS BIGINT) AS p95,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_converted
        |FROM cum""".stripMargin),

    // Session transition matrix: within each 30-min-gap session, count
    // event_type → next-event_type transitions (the navigation-flow /
    // markov-chain readout). Lead over the deterministic (us, event_id)
    // per-session order; one window shuffle keyed on user.
    // evt_transitions: same gap-cumsum sessionization as evt_sessions
    // (strict > gap), lead over the identical total order.
    Gate("evt_transitions", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wu = Window.partitionBy("user_id").orderBy("us", "event_id")
      val ev = events(s, d).select(col("user_id"), col("event_id"),
        col("event_type"), expr("ts div 1000").as("us"))
      val sess = ev
        .withColumn("brk",
          when(col("us") - lag("us", 1).over(wu) > SessionGapUs, 1).otherwise(0))
        .withColumn("sid", sum("brk").over(wu))
      val ws = Window.partitionBy("user_id", "sid").orderBy("us", "event_id")
      sess.withColumn("nxt", lead("event_type", 1).over(ws))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("nxt").as("to_type"))
        .agg(count(lit(1)).as("cnt"))
    },
      s"""WITH t AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
         |b AS (SELECT *, CASE WHEN us - LAG(us) OVER w > $SessionGapUs
         |    THEN 1 ELSE 0 END AS brk FROM t
         |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
         |    ROWS UNBOUNDED PRECEDING) AS sid FROM b),
         |x AS (SELECT event_type AS from_type, LEAD(event_type) OVER (
         |    PARTITION BY user_id, sid ORDER BY us, event_id) AS to_type FROM s)
         |SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM x WHERE to_type IS NOT NULL GROUP BY 1, 2""".stripMargin),

    // Degree histogram of the undirected kNN graph — the connectivity
    // profile (how many near-isolates vs dense hubs the similarity
    // corpus has).
    // graph_degrees: canonical undirected edges → per-node degree →
    // degree histogram.
    Gate("graph_degrees", (s, d) => {
      val kg = graft.operators.VectorOps.knnGraph(
        embs(s, d), "vec_id", "embedding", KnnGraphK, LshTables, LshBits, EmbDims)
      val ue = kg.select(least(col("qid"), col("nid")).as("a"),
          greatest(col("qid"), col("nid")).as("b"))
        .filter(col("a") < col("b")).distinct()
      ue.select(col("a").as("v")).unionAll(ue.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
    },
      s"""WITH $knnGraphCtes,
         |ue AS MATERIALIZED (SELECT DISTINCT LEAST(qid, nid) AS a, GREATEST(qid, nid) AS b FROM kg),
         |d AS (SELECT v, COUNT(*) AS deg FROM
         |  (SELECT a AS v FROM ue UNION ALL SELECT b FROM ue) GROUP BY 1)
         |SELECT CAST(deg AS BIGINT) AS deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |FROM d GROUP BY 1""".stripMargin),

    // Global clustering coefficient of the kNN graph, as exact integers:
    // closed wedges = 3·triangles, total wedges = Σ C(deg,2), plus the
    // per-mille floor ratio (integer-exact; positive so div == //).
    // graph_clustering: triangles and wedge totals off the same chain.
    Gate("graph_clustering", (s, d) => {
      // Persisted: the triangle census and the wedge count both consume
      // the ranked graph — one LSH build, not two.
      val kg = graft.core.Caches.persistTracked(
        graft.operators.VectorOps.knnGraph(
          embs(s, d), "vec_id", "embedding", KnnGraphK, LshTables, LshBits, EmbDims))
      val tri = graft.operators.GraphOps.triangles(
        kg.select(col("qid").as("src"), col("nid").as("dst")))
      val ue = kg.select(least(col("qid"), col("nid")).as("a"),
          greatest(col("qid"), col("nid")).as("b"))
        .filter(col("a") < col("b")).distinct()
      val wedges = ue.select(col("a").as("v")).unionAll(ue.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
        .agg(sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
      tri.select(col("n_triangles")).crossJoin(wedges)
        .select(col("n_triangles"), col("n_wedges"),
          expr("(3 * n_triangles * 1000) div n_wedges").as("cc_permille"))
    },
      s"""WITH $knnGraphCtes,
         |ue AS MATERIALIZED (SELECT DISTINCT LEAST(qid, nid) AS a, GREATEST(qid, nid) AS b FROM kg),
         |tri AS (SELECT COUNT(*) AS t FROM ue e1
         |  JOIN ue e2 ON e2.a = e1.b
         |  JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b),
         |wg AS (SELECT SUM(deg * (deg - 1) // 2) AS w FROM
         |  (SELECT v, COUNT(*) AS deg FROM
         |    (SELECT a AS v FROM ue UNION ALL SELECT b FROM ue) GROUP BY 1))
         |SELECT CAST(tri.t AS BIGINT) AS n_triangles, CAST(wg.w AS BIGINT) AS n_wedges,
         |  CAST((3 * tri.t * 1000) // wg.w AS BIGINT) AS cc_permille
         |FROM tri, wg""".stripMargin),

    // k-CORE of the cosine-threshold similarity graph (LSH candidates,
    // exact cosine ≥ KcoreMinCos — the emb_neardup build at a looser
    // cutoff): the dense-neighborhood extractor — every surviving vector
    // keeps ≥ KcoreK surviving neighbors, so dense regions survive the
    // peel while chains and sparse fringe dissolve (a real partial
    // cascade, unlike the kNN graph whose degrees are uniform by
    // construction). Fixed 8-round peel; the oracle replays every round.
    // graph_kcore: the emb_neardup chain at KcoreMinCos (planes → buckets
    // → candidates → verified cosine pairs) + KcoreRounds unrolled peel
    // rounds (degree → keep ≥ k → restrict edges), then degrees of the
    // surviving subgraph. Every round MATERIALIZED — inlined CTEs would
    // re-expand each prior round at every reference (exponential plan
    // growth across 8 rounds).
    Gate("graph_kcore", (s, d) => {
      val pairs = graft.operators.VectorOps.cosNearDups(
        embs(s, d), "vec_id", "embedding", LshTables, LshBits, EmbDims,
        KcoreMinCos)
      graft.operators.GraphOps.kCore(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
        KcoreK, KcoreRounds)
    }, {
      val pdot = s"list_sum([CAST(e.v[i] AS DOUBLE) * pl.p[i] for i in range(1, ${EmbDims + 1})])"
      val cos  = cosSql("a.v", "b.v")
      val rounds = (1 to KcoreRounds).map { r =>
        s"""d$r AS MATERIALIZED (SELECT v, COUNT(*) AS deg FROM
           |  (SELECT a AS v FROM ue${r - 1} UNION ALL SELECT b FROM ue${r - 1}) GROUP BY 1),
           |k$r AS MATERIALIZED (SELECT v FROM d$r WHERE deg >= $KcoreK),
           |ue$r AS MATERIALIZED (SELECT e.a, e.b FROM ue${r - 1} e
           |  JOIN k$r x ON x.v = e.a JOIN k$r y ON y.v = e.b)"""
      }.mkString(",\n")
      s"""WITH planes(t, b, p) AS (VALUES
         |$planesValuesSql),
         |e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |buck AS (SELECT e.vec_id AS id, pl.t,
         |  CAST(SUM(CASE WHEN $pdot >= 0 THEN (1 << pl.b) ELSE 0 END) AS INTEGER) AS bucket
         |  FROM e, planes pl GROUP BY 1, 2),
         |cand AS (SELECT x.id AS id_a, y.id AS id_b
         |  FROM buck x JOIN buck y ON x.t = y.t AND x.bucket = y.bucket AND x.id < y.id
         |  GROUP BY 1, 2),
         |ue0 AS MATERIALIZED (SELECT c.id_a AS a, c.id_b AS b FROM cand c
         |  JOIN e a ON a.vec_id = c.id_a JOIN e b ON b.vec_id = c.id_b
         |  WHERE $cos >= $KcoreMinCos),
         |$rounds
         |SELECT v AS vec_id, CAST(COUNT(*) AS BIGINT) AS core_deg FROM
         |  (SELECT a AS v FROM ue$KcoreRounds UNION ALL SELECT b FROM ue$KcoreRounds)
         |GROUP BY 1""".stripMargin
    }),

    // Label-propagation communities over the same cosine-threshold graph:
    // votes (not reachability) decide membership, so dense neighborhoods
    // joined by a stray edge stay SEPARATE communities where CC would
    // merge them. Fixed synchronous rounds, min-label tie-break — the
    // oracle replays every round materialized.
    // graph_lpa: the graph_kcore edge chain + LpaRounds materialized
    // synchronous vote rounds (neighbor-label counts → per-vertex
    // (count desc, label) top-1).
    Gate("graph_lpa", (s, d) => {
      val pairs = graft.operators.VectorOps.cosNearDups(
        embs(s, d), "vec_id", "embedding", LshTables, LshBits, EmbDims,
        KcoreMinCos)
      graft.operators.GraphOps.labelPropagation(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
        LpaRounds)
    }, {
      val pdot = s"list_sum([CAST(e.v[i] AS DOUBLE) * pl.p[i] for i in range(1, ${EmbDims + 1})])"
      val cos  = cosSql("a.v", "b.v")
      val rounds = (1 to LpaRounds).map { r =>
        s"""vt$r AS MATERIALIZED (SELECT ad.v, l.lbl, COUNT(*) AS c
           |  FROM adj ad JOIN lb${r - 1} l ON l.v = ad.u GROUP BY 1, 2),
           |lb$r AS MATERIALIZED (SELECT v, lbl FROM (
           |  SELECT v, lbl, ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn
           |  FROM vt$r) WHERE rn = 1)"""
      }.mkString(",\n")
      s"""WITH planes(t, b, p) AS (VALUES
         |$planesValuesSql),
         |e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |buck AS (SELECT e.vec_id AS id, pl.t,
         |  CAST(SUM(CASE WHEN $pdot >= 0 THEN (1 << pl.b) ELSE 0 END) AS INTEGER) AS bucket
         |  FROM e, planes pl GROUP BY 1, 2),
         |cand AS (SELECT x.id AS id_a, y.id AS id_b
         |  FROM buck x JOIN buck y ON x.t = y.t AND x.bucket = y.bucket AND x.id < y.id
         |  GROUP BY 1, 2),
         |ue0 AS MATERIALIZED (SELECT c.id_a AS a, c.id_b AS b FROM cand c
         |  JOIN e a ON a.vec_id = c.id_a JOIN e b ON b.vec_id = c.id_b
         |  WHERE $cos >= $KcoreMinCos),
         |adj AS MATERIALIZED (SELECT a AS v, b AS u FROM ue0
         |  UNION ALL SELECT b AS v, a AS u FROM ue0),
         |lb0 AS MATERIALIZED (SELECT DISTINCT v, v AS lbl FROM adj),
         |$rounds
         |SELECT v AS vec_id, lbl AS label FROM lb$LpaRounds""".stripMargin
    }),

    // COUNT-MIN SKETCH estimates for the 20 highest-frequency tokens:
    // (token, true_cnt, est_cnt ≥ true_cnt) — hashes the full sketch
    // build (3 rows × 256 md5-derived buckets, bounded state) plus the
    // min-over-rows probe, including the collision overshoot this
    // corpus actually produces.
    // corp_cms: sketch build (salted-md5 16-bit fold mod width, depth
    // rows) + top-k true counts + min-over-rows estimates.
    Gate("corp_cms", (s, d) =>
      graft.operators.CorpusOps.cmsHeavyEstimates(
        docs(s, d), CmsDepth, CmsWidth, CmsTopK), {
      def hv(j: Int) = hexvalSql(s"substr(hx,$j,1)")
      val bucketFromHx =
        s"((${hv(29)})*4096 + (${hv(30)})*256 + (${hv(31)})*16 + (${hv(32)})) % $CmsWidth"
      val salts = (0 until CmsDepth).map(r => s"($r, 'cms$r:')").mkString(", ")
      s"""WITH toks AS (SELECT unnest(string_split(coalesce(text, ''), ' ')) AS t FROM documents),
         |salts(r, salt) AS (VALUES $salts),
         |hx0 AS (SELECT s.r, md5(s.salt || tk.t) AS hx FROM toks tk CROSS JOIN salts s),
         |cells AS (SELECT r, $bucketFromHx AS bucket, COUNT(*) AS cnt FROM hx0 GROUP BY 1, 2),
         |tru AS (SELECT t, COUNT(*) AS true_cnt FROM toks GROUP BY 1
         |  ORDER BY true_cnt DESC, t LIMIT $CmsTopK),
         |probe AS (SELECT tru.t, tru.true_cnt, s.r, md5(s.salt || tru.t) AS hx
         |  FROM tru CROSS JOIN salts s),
         |pb AS (SELECT t, true_cnt, r, $bucketFromHx AS bucket FROM probe)
         |SELECT pb.t AS token, CAST(pb.true_cnt AS BIGINT) AS true_cnt,
         |  CAST(MIN(c.cnt) AS BIGINT) AS est_cnt
         |FROM pb JOIN cells c ON c.r = pb.r AND c.bucket = pb.bucket
         |GROUP BY 1, 2""".stripMargin
    }),

    // Multinomial naive-Bayes language classifier, trained on the corpus
    // and self-evaluated: Laplace-smoothed per-(class, token) likelihoods
    // quantized to whole log2 bits (integer-exact — the oracle re-trains
    // the identical model and replays every doc's argmin). Output:
    // confusion matrix vs the labeled lang.
    // model_nb: re-train the quantized-log2 naive-Bayes model (class
    // token counts, vocabulary, Laplace-smoothed bit weights, priors)
    // and replay every doc's argmin — bin() prints BIGINT without
    // leading zeros in both engines, so length(bin(x))-1 IS floor(log2).
    Gate("model_nb", (s, d) =>
      graft.operators.ModelOps.nbConfusion(docs(s, d)),
      s"""WITH toks AS (SELECT doc_id, lang AS cls,
         |    unnest(string_split(coalesce(text, ''), ' ')) AS t FROM documents),
         |vsz AS (SELECT COUNT(DISTINCT t) AS v FROM toks),
         |ct AS (SELECT cls, COUNT(*) AS tc FROM toks GROUP BY 1),
         |tcnt AS (SELECT cls, t, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
         |vocab AS (SELECT DISTINCT t FROM toks),
         |w AS (SELECT ct.cls, vocab.t,
         |    length(bin(((ct.tc + vsz.v) * ${graft.operators.ModelOps.NbScale}) //
         |      (COALESCE(tcnt.cnt, 0) + 1))) - 1 AS wbits
         |  FROM vocab CROSS JOIN ct CROSS JOIN vsz
         |  LEFT JOIN tcnt ON tcnt.cls = ct.cls AND tcnt.t = vocab.t),
         |pri AS (SELECT c.cls,
         |    length(bin((n.n * ${graft.operators.ModelOps.NbScale}) // c.nc)) - 1 AS pbits
         |  FROM (SELECT lang AS cls, COUNT(*) AS nc FROM documents GROUP BY 1) c
         |  CROSS JOIN (SELECT COUNT(*) AS n FROM documents) n),
         |sc AS (SELECT tk.doc_id, w.cls AS cand, SUM(w.wbits) AS sbits
         |  FROM toks tk JOIN w ON w.t = tk.t GROUP BY 1, 2),
         |tot AS (SELECT sc.doc_id, sc.cand, sc.sbits + pri.pbits AS score
         |  FROM sc JOIN pri ON pri.cls = sc.cand),
         |pred AS (SELECT doc_id, cand AS predicted FROM (
         |  SELECT doc_id, cand,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score, cand) AS rn FROM tot)
         |  WHERE rn = 1)
         |SELECT d.lang AS actual, p.predicted, CAST(COUNT(*) AS BIGINT) AS n
         |FROM documents d JOIN pred p ON p.doc_id = d.doc_id
         |GROUP BY 1, 2""".stripMargin),

    // Per-label integer centroids over the int8-quantized embedding
    // space (the class-prototype build): one row per (label, dim) with
    // the round-half-away integer mean — engine-exact, every component
    // hashed.
    // emb_centroids: quantize (the emb_quant pipeline keyed by label),
    // per-(label, dim) integer sums, round-half-away integer mean.
    Gate("emb_centroids", (s, d) =>
      graft.operators.VectorOps.groupCentroids(
        embs(s, d), "embedding", "label"),
      s"""WITH e AS (SELECT label, [CAST(x AS DOUBLE) for x in embedding] AS ev FROM embeddings),
         |sc AS (SELECT label, ev, list_max([abs(x) for x in ev]) / 127.0 AS scale FROM e),
         |q AS (SELECT label,
         |    CASE WHEN scale > 0 THEN [CAST(FLOOR(x / scale + 0.5) AS BIGINT) for x in ev]
         |         ELSE [CAST(0 AS BIGINT) for x in ev] END AS qv FROM sc),
         |x AS (SELECT label, t.i AS dim, qv[t.i] AS v
         |  FROM q CROSS JOIN range(1, ${EmbDims + 1}) t(i)),
         |g AS (SELECT label, dim, SUM(v) AS s, COUNT(*) AS n FROM x GROUP BY 1, 2)
         |SELECT label AS grp, CAST(dim AS BIGINT) AS dim,
         |  CAST(CASE WHEN s < 0 THEN -((2 * (-s) + n) // (2 * n))
         |       ELSE (2 * s + n) // (2 * n) END AS BIGINT) AS c,
         |  CAST(n AS BIGINT) AS n
         |FROM g""".stripMargin),

    // RFM customer segmentation: recency (days since last order, vs the
    // corpus max day), frequency (order count), monetary (cents summed
    // exactly, then $100-quantized so the quantile histogram's value
    // domain stays bounded — the discQuantiles "bucket first" rule).
    // Quartile thresholds per metric come from the same histogram+cumsum
    // shape (three one-row tables, broadcast), and customers land in
    // 1..4 bands per axis → segment counts. One orders shuffle total.
    // cust_rfm: replays the per-customer rollup, the three quartile
    // histograms, and the banding.
    Gate("cust_rfm", (s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_custkey").as("c"),
          expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')").as("day"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      // Persisted: the rollup feeds both the global-max-day aggregate
      // and the banding base — one orders pass, not two.
      val per = graft.core.Caches.persistTracked(o.groupBy("c")
        .agg(max("day").as("rday"), count(lit(1)).as("f"),
          expr("CAST(sum(cents) div 10000 AS BIGINT)").as("m")))
      val base = graft.core.Caches.persistTracked(
        per.crossJoin(broadcast(per.agg(max("rday").as("md"))))
          .select(col("c"), (col("md") - col("rday")).as("r"), col("f"), col("m"))
          .withColumn("g", lit(1)))
      def qs(v: String) = broadcast(
        graft.operators.CorpusOps.discQuantiles(base, "g", v, Seq(25, 50, 75))
          .select(col("p25").as(s"${v}25"), col("p50").as(s"${v}50"),
            col("p75").as(s"${v}75")))
      def band(v: String): org.apache.spark.sql.Column =
        (lit(1L) + when(col(v) >= col(s"${v}25"), 1L).otherwise(0L)
          + when(col(v) >= col(s"${v}50"), 1L).otherwise(0L)
          + when(col(v) >= col(s"${v}75"), 1L).otherwise(0L)).as(s"${v}_band")
      base.crossJoin(qs("r")).crossJoin(qs("f")).crossJoin(qs("m"))
        .select(band("r"), band("f"), band("m"))
        .groupBy("r_band", "f_band", "m_band")
        .agg(count(lit(1)).as("n_cust"))
    }, {
      def q(src: String) =
        s"""(SELECT MIN(CASE WHEN cum*100 >= n*25 THEN v END) AS p25,
           |  MIN(CASE WHEN cum*100 >= n*50 THEN v END) AS p50,
           |  MIN(CASE WHEN cum*100 >= n*75 THEN v END) AS p75 FROM
           |  (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum, SUM(cnt) OVER () AS n
           |   FROM (SELECT $src AS v, COUNT(*) AS cnt FROM base GROUP BY 1)))""".stripMargin
      def band(v: String, t: String) =
        s"1 + CASE WHEN $v >= $t.p25 THEN 1 ELSE 0 END + CASE WHEN $v >= $t.p50 THEN 1 ELSE 0 END + CASE WHEN $v >= $t.p75 THEN 1 ELSE 0 END"
      s"""WITH per AS (SELECT o_custkey AS c, MAX(day) AS rday, COUNT(*) AS f,
         |    SUM(cents) // 10000 AS m FROM
         |  (SELECT o_custkey, CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
         |     CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders)
         |  GROUP BY 1),
         |base AS MATERIALIZED (SELECT c, (SELECT MAX(rday) FROM per) - rday AS r, f, m FROM per),
         |qr AS ${q("r")}, qf AS ${q("f")}, qm AS ${q("m")}
         |SELECT CAST(${band("r", "qr")} AS BIGINT) AS r_band,
         |  CAST(${band("f", "qf")} AS BIGINT) AS f_band,
         |  CAST(${band("m", "qm")} AS BIGINT) AS m_band,
         |  CAST(COUNT(*) AS BIGINT) AS n_cust
         |FROM base, qr, qf, qm GROUP BY 1, 2, 3""".stripMargin
    }),

    // ----------------------------------------------------------------- cdc
    // CDC upsert compaction: the events log read as a keyed changelog
    // (user = entity, (us, event_id) = change sequence) compacted to its
    // current state — one row per user, latest event's type and cent
    // value. WindowGroupLimit keeps the shuffle at ~|users| rows.
    // cdc_snapshot: latest change per user by (us desc, event_id desc).
    Gate("cdc_snapshot", (s, d) =>
      graft.operators.CdcOps.latestSnapshot(
        events(s, d).select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("us"), col("event_type"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("v100")),
        "user_id", "us", "event_id", Seq("event_type", "v100")),
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100 FROM events)
        |SELECT user_id, event_type, v100 FROM ev
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) = 1""".stripMargin),

    // SCD2 history: per-user validity intervals of the tracked attribute
    // (event_type), consecutive runs collapsed, half-open [from, to)
    // bounds with a null-open current interval.
    // cdc_scd2: lag change-marker + cumulative run id + run bounds + lead.
    Gate("cdc_scd2", (s, d) =>
      graft.operators.CdcOps.scd2(
        events(s, d).select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("us"), col("event_type")),
        "user_id", "us", "event_id", "event_type"),
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
        |c AS (SELECT user_id, us, event_id, event_type,
        |  CASE WHEN lag(event_type) OVER w IS NULL
        |         OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |r AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id) AS run FROM c),
        |iv AS (SELECT user_id, run, event_type, MIN(us) AS valid_from,
        |  CAST(COUNT(*) AS BIGINT) AS n_changes FROM r GROUP BY 1, 2, 3)
        |SELECT user_id, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, run) AS valid_to,
        |  n_changes FROM iv""".stripMargin),

    // ---------------------------------------------------------------- join
    // Salted skew join: lineitem⋈orders revenue per order priority with
    // the orderkey shuffle spread over 8 salt buckets — row-identical to
    // the plain inner join (the oracle IS the plain join), demonstrating
    // the explicit hot-key treatment for distributions AQE can't re-split
    // (hash-agg shuffles, deliberate strategy pins).
    // skew_join: the oracle IS the unsalted join — salting must be
    // row-invisible.
    Gate("skew_join", (s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_orderkey").as("okey"),
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("cents"))
      val ord = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      graft.operators.JoinOps.saltedJoin(li, ord, "okey", 8)
        .groupBy("o_orderpriority")
        .agg(sum("cents").as("rev_cents"), count(lit(1)).as("n_items"))
    },
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin),

    // ------------------------------------------------------------ quality
    // Batch data-quality profile: per-column row/null/distinct counts and
    // stringified min/max over lineitem — the publish-gate expectations
    // readout, one input pass, unpivoted via stack.
    Gate("dq_profile", (s, d) =>
      graft.operators.ProfileOps.profile(
        s.read.parquet(s"$d/lineitem.parquet"),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")),
      Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus").map(c =>
        s"""SELECT '$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_s, CAST(MAX($c) AS VARCHAR) AS max_s
           |FROM lineitem""".stripMargin).mkString("\nUNION ALL\n")),

    // Join-key skew profile of lineitem.l_suppkey (the supplier-join key):
    // per-key counts → exact count-percentiles + hot key + the
    // max-over-mean skew ratio — the readout that sizes a salt factor or
    // an AQE skew threshold BEFORE paying the join.
    // dq_skew: per-key counts, count-of-counts histogram cumsum
    // percentiles, string-tie-broken hot key, max-over-mean ratio.
    Gate("dq_skew", (s, d) =>
      graft.operators.ProfileOps.keySkew(
        s.read.parquet(s"$d/lineitem.parquet"), "l_suppkey"),
      """WITH pk AS (SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1),
        |h AS (SELECT cnt, CAST(COUNT(*) AS BIGINT) AS nk FROM pk GROUP BY 1),
        |c AS (SELECT cnt, SUM(nk) OVER (ORDER BY cnt) AS cum,
        |  (SELECT SUM(nk) FROM h) AS tk FROM h),
        |q AS (SELECT
        |  CAST(MIN(CASE WHEN cum * 100 >= tk * 50 THEN cnt END) AS BIGINT) AS p50_cnt,
        |  CAST(MIN(CASE WHEN cum * 100 >= tk * 90 THEN cnt END) AS BIGINT) AS p90_cnt,
        |  CAST(MIN(CASE WHEN cum * 100 >= tk * 99 THEN cnt END) AS BIGINT) AS p99_cnt FROM c),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(cnt) AS BIGINT) AS n_rows, CAST(MAX(cnt) AS BIGINT) AS max_cnt FROM pk),
        |hot AS (SELECT CAST(k AS VARCHAR) AS hot_key FROM pk
        |  ORDER BY cnt DESC, CAST(k AS VARCHAR) LIMIT 1)
        |SELECT n_rows, n_keys, max_cnt, hot_key, p50_cnt, p90_cnt, p99_cnt,
        |  (max_cnt * n_keys * 1000) // n_rows AS skew_x1000
        |FROM s CROSS JOIN hot CROSS JOIN q""".stripMargin),

    // HyperLogLog register table per source over word-3-gram shingles —
    // the union-mergeable distinct sketch (m=64 six-bit registers vs
    // corp_kmv's k=64 hashes), integer-exact and oracle-replayed
    // bit-for-bit.
    // corp_hll: replays the register table — index from the first md5
    // byte mod 64, rho from the bit length of the next 48 bits (DuckDB's
    // bin() renders without leading zeros, same as Spark's).
    Gate("corp_hll", (s, d) =>
      graft.operators.CorpusOps.hllRegisters(docs(s, d), "source", 3, 64), {
      val reg = s"(${hexvalSql("substr(h,1,1)")} * 16 + ${hexvalSql("substr(h,2,1)")}) % 64"
      val v = (3 to 14).map(j =>
        s"${hexvalSql(s"substr(h,$j,1)")} * CAST(${BigInt(16).pow(14 - j)} AS BIGINT)")
        .mkString(" + ")
      s"""WITH sh AS (SELECT source, md5(s) AS h FROM
         |  (SELECT source, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
         |   FROM (SELECT source, string_split(text, ' ') AS w FROM documents))),
         |rv AS (SELECT source, CAST($reg AS BIGINT) AS reg, CAST($v AS BIGINT) AS v FROM sh)
         |SELECT source, reg,
         |  CAST(MAX(CASE WHEN v = 0 THEN 49 ELSE 49 - length(bin(v)) END) AS BIGINT) AS max_rho
         |FROM rv GROUP BY 1, 2""".stripMargin
    }),

    // C4-style heuristic curation funnel: sequential drop rules (too
    // short < 20 words → token-repetition ratio < 40% → fewer than two
    // stopword hits → non-English metadata) with per-stage accounting —
    // the rule-attribution readout a filter-tuning pass reads. One scan,
    // one tiny aggregation.
    Gate("curate_rules", (s, d) => {
      import graft.operators.TextOps
      val m = docs(s, d).select(col("lang"),
          TextOps.tokens(col("text")).as("w"))
        .select(col("lang"), size(col("w")).as("nw"),
          size(array_distinct(col("w"))).as("ndw"),
          TextOps.hitCount(col("w"), Seq("the", "a")).as("stop"))
      m.select(
          when(col("nw") < 20, "short")
            .when(col("ndw") * 100 < col("nw") * 40, "repetitive")
            .when(col("stop") < 2, "no_stopwords")
            .when(col("lang") =!= "en", "non_english")
            .otherwise("kept").as("stage"))
        .groupBy("stage").agg(count(lit(1)).as("n_docs"))
    },
      """WITH m AS (SELECT lang, len(w) AS nw, len(list_distinct(w)) AS ndw,
        |  len(list_filter(w, x -> x IN ('the', 'a'))) AS stop
        |  FROM (SELECT lang, string_split(text, ' ') AS w FROM documents))
        |SELECT CASE WHEN nw < 20 THEN 'short'
        |  WHEN ndw * 100 < nw * 40 THEN 'repetitive'
        |  WHEN stop < 2 THEN 'no_stopwords'
        |  WHEN lang <> 'en' THEN 'non_english'
        |  ELSE 'kept' END AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM m GROUP BY 1""".stripMargin),

    // Gopher quality-rule report (Rae et al. arXiv:2112.11446 Table A1):
    // per-rule INDEPENDENT violation counts + the kept row — the audit
    // view curate_rules' first-failure cascade cannot produce. Rules that
    // never fire on this corpus still report their zero (that IS the
    // audit); thresholds are the paper's, in exact integer arithmetic.
    // curate_gopher: per-doc flag columns (letters at the single-space
    // wire format = len(text) − (n_tokens − 1)), the bigram-mode
    // sub-aggregate, then the 6 independent rule sums + kept, unioned
    // into (rule, n_violations) rows.
    Gate("curate_gopher", (s, d) =>
      graft.operators.TextOps.gopherReport(docs(s, d), "doc_id"), {
      val viol = Seq(
        "nw < 50 OR nw > 100000",
        "letters < nw * 3 OR letters > nw * 10",
        "alpha * 10 < nw * 8",
        "stops < 2",
        "top_bg * 5 > greatest(nw - 1, 0)",
        "symbols * 10 > nw")
      val names = Seq("word_count", "mean_word_len", "alpha_words",
        "stop_words", "top_bigram", "symbol_ratio")
      val sums = names.zip(viol).map { case (n, v) =>
        s"SUM(CASE WHEN $v THEN 1 ELSE 0 END) AS $n"
      }.mkString(",\n|  ")
      val kept = viol.map(v => s"($v)").mkString(" OR ")
      val rows = (names :+ "kept").map(n =>
        s"SELECT '$n' AS rule, CAST($n AS BIGINT) AS n_violations FROM r")
        .mkString("\n|UNION ALL ")
      s"""WITH m AS (SELECT doc_id, string_split(text, ' ') AS w, len(text) AS lc FROM documents),
         |f AS (SELECT doc_id, len(w) AS nw, lc - (len(w) - 1) AS letters,
         |  len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha,
         |  len(list_filter(w, x -> x IN ('the','be','to','of','and','that','have','with'))) AS stops,
         |  len(list_filter(w, x -> contains(x, '#') OR x LIKE '%...')) AS symbols FROM m),
         |bg AS (SELECT doc_id, MAX(c) AS top_bg FROM (
         |  SELECT doc_id, bgr, COUNT(*) AS c FROM (
         |    SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS bgr
         |    FROM m WHERE len(w) >= 2) GROUP BY 1, 2) GROUP BY 1),
         |v AS (SELECT f.*, COALESCE(bg.top_bg, 0) AS top_bg FROM f LEFT JOIN bg USING (doc_id)),
         |r AS (SELECT
         |  $sums,
         |  SUM(CASE WHEN NOT ($kept) THEN 1 ELSE 0 END) AS kept
         |  FROM v)
         |$rows""".stripMargin
    }),

    // --------------------------------------------------------------- index
    // Inverted-index statistics: per-token document/collection frequency
    // and a rank-window-capped posting sample (WindowGroupLimit — hot
    // tokens never materialize unbounded lists), tokens with df >= 300.
    Gate("idx_postings", (s, d) =>
      graft.operators.IndexOps.postings(docs(s, d), "doc_id", 300L, 5),
      """WITH td AS (SELECT t, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE len(t) > 0 GROUP BY 1, 2),
        |capped AS (SELECT t, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS sample_docs
        |  FROM (SELECT t, doc_id FROM td
        |        QUALIFY row_number() OVER (PARTITION BY t ORDER BY doc_id) <= 5)
        |  GROUP BY 1),
        |st AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf
        |  FROM td GROUP BY 1)
        |SELECT st.t, df, cf, sample_docs FROM st JOIN capped USING (t) WHERE df >= 300""".stripMargin),

    // Conjunctive retrieval: documents containing ALL of three probe terms
    // each at least twice — the contamination/audit lookup as one
    // filtered-posting aggregation (filter pushed to the scan), never a
    // per-term join chain.
    Gate("idx_search", (s, d) =>
      graft.operators.IndexOps.conjunctive(docs(s, d), "doc_id",
        Seq("spark", "vector", "hash"), minTf = 2L),
      """WITH td AS (SELECT t, doc_id, COUNT(*) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE len(t) > 0 GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS total_tf FROM td
        |WHERE t IN ('spark', 'vector', 'hash') AND tf >= 2
        |GROUP BY 1 HAVING COUNT(*) = 3""".stripMargin),

    // BM25 ranked retrieval: top-20 documents for the probe terms under
    // integer-quantized Okapi BM25 (k1=1.2, b=0.75, bit-length idf) —
    // the relevance-ranked counterpart of idx_search; every rank and
    // quantized score replays bit-for-bit in the oracle.
    // idx_bm25: replay the integer-quantized BM25 — doc lengths, corpus
    // totals, per-term df, bit-length idf, the cleared-fraction
    // tf-saturation ratio, floor-division contributions, top-20 ranks.
    Gate("idx_bm25", (s, d) =>
      graft.operators.IndexOps.bm25(docs(s, d), "doc_id",
        Seq("spark", "vector", "hash"), 20),
      """WITH td AS (SELECT t, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE len(t) > 0 GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM td GROUP BY 1),
        |st AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
        |  (SELECT CAST(SUM(tf) AS BIGINT) FROM td) AS t_total),
        |m AS (SELECT * FROM td WHERE t IN ('spark', 'vector', 'hash')),
        |dfq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM m GROUP BY 1),
        |sc AS (SELECT m.doc_id, SUM(
        |    (CAST(length(bin((4 * n_docs) // (2 * df + 1))) AS BIGINT) - 1)
        |      * 44 * t_total * tf * 1000
        |      // (20 * t_total * tf + 6 * t_total + 18 * dl.dl * n_docs)) AS score
        |  FROM m JOIN dl USING (doc_id) JOIN dfq USING (t) CROSS JOIN st GROUP BY 1)
        |SELECT doc_id, CAST(score AS BIGINT) AS score, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT doc_id, score, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk FROM sc)
        |WHERE rnk <= 20""".stripMargin),

    // HYBRID search: reciprocal-rank fusion of the BM25 lexical top-20
    // and the exact-cosine embedding top-20 (query vector 0) — the
    // standard two-tower retrieval combiner, integer-quantized so fused
    // scores and ranks replay exactly.
    // search_rrf: the idx_bm25 replay (top-20) + the knn_brute replay for
    // query vector 0 (top-20), fused with integer reciprocal-rank
    // contributions 10⁹ // (60 + rank).
    Gate("search_rrf", (s, d) => {
      val lex = graft.operators.IndexOps.bm25(docs(s, d), "doc_id",
          Seq("spark", "vector", "hash"), 20)
        .select(col("doc_id").as("id"), col("rnk"))
      val sem = graft.operators.VectorOps.knnBrute(embs(s, d), "vec_id",
          "embedding", col("vec_id") === 0, 20)
        .select(col("nid").as("id"), col("rnk"))
      graft.operators.IndexOps.rrfFuse(Seq(lex, sem), "id", "rnk", 10)
    }, {
      val cos = cosSql("q.v", "x.v")
      s"""WITH td AS (SELECT t, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM
         |  (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
         |  WHERE len(t) > 0 GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM td GROUP BY 1),
         |st AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
         |  (SELECT CAST(SUM(tf) AS BIGINT) FROM td) AS t_total),
         |m AS (SELECT * FROM td WHERE t IN ('spark', 'vector', 'hash')),
         |dfq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM m GROUP BY 1),
         |sc AS (SELECT m.doc_id, SUM(
         |    (CAST(length(bin((4 * n_docs) // (2 * df + 1))) AS BIGINT) - 1)
         |      * 44 * t_total * tf * 1000
         |      // (20 * t_total * tf + 6 * t_total + 18 * dl.dl * n_docs)) AS score
         |  FROM m JOIN dl USING (doc_id) JOIN dfq USING (t) CROSS JOIN st GROUP BY 1),
         |lex AS (SELECT doc_id AS id, rnk FROM (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk FROM sc)
         |  WHERE rnk <= 20),
         |e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |ks AS (SELECT q.vec_id AS qid, x.vec_id AS nid, $cos AS sim
         |  FROM e q, e x WHERE q.vec_id = 0 AND x.vec_id != q.vec_id),
         |sem AS (SELECT nid AS id, rnk FROM (
         |  SELECT nid, ROW_NUMBER() OVER (ORDER BY sim DESC, nid) AS rnk FROM ks)
         |  WHERE rnk <= 20),
         |u AS (SELECT id, 1000000000 // (60 + rnk) AS contrib FROM lex
         |  UNION ALL SELECT id, 1000000000 // (60 + rnk) AS contrib FROM sem),
         |f AS (SELECT id, SUM(contrib) AS rrf, COUNT(*) AS n_lists FROM u GROUP BY 1)
         |SELECT id, CAST(rrf AS BIGINT) AS rrf, CAST(n_lists AS BIGINT) AS n_lists,
         |  CAST(rnk AS BIGINT) AS rnk
         |FROM (SELECT id, rrf, n_lists,
         |  ROW_NUMBER() OVER (ORDER BY rrf DESC, id) AS rnk FROM f)
         |WHERE rnk <= 10""".stripMargin
    }),

    // ------------------------------------------------------------ layout
    // Z-order clustering readout: lineitem quantized to a 1024×1024
    // (partkey, orderkey) grid, z-keyed by the native codegen'd
    // interleave, bucketed by the top 6 z-bits (= an 8×8 grid of 128×128
    // tiles — the "files" of a z-sorted write). Per-bucket bounding boxes
    // are the footer stats a reader prunes with; the oracle replays the
    // bit interleave arithmetically.
    // zorder_*: the 10-bit Morton interleave replayed arithmetically
    // (bit i via floor-div/mod on the POSITIVE quantized dims).
    Gate("zorder_layout", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      import graft.operators.LayoutOps
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(pmod(col("l_partkey"), lit(1024)).cast("long").as("px"),
          pmod(col("l_orderkey"), lit(1024)).cast("long").as("ox"))
      LayoutOps.bucketStats(li,
        shiftright(LayoutOps.zkey(col("px"), col("ox")), 14),
        col("px"), col("ox"))
    },
      s"""WITH b AS (SELECT l_partkey % 1024 AS px, l_orderkey % 1024 AS ox FROM lineitem),
         |z AS (SELECT ($zInterleaveSql) // 16384 AS bucket, px, ox FROM b)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(MIN(px) AS BIGINT) AS min_x, CAST(MAX(px) AS BIGINT) AS max_x,
         |  CAST(MIN(ox) AS BIGINT) AS min_y, CAST(MAX(ox) AS BIGINT) AS max_y
         |FROM z GROUP BY 1""".stripMargin),

    // Pruning effectiveness, z-order vs ingest order, under the box
    // predicate px∈[300,449] ∧ ox∈[600,749]: candidate buckets/rows a
    // stats-pruning reader must read per layout. The ingest layout
    // (contiguous orderkey ranges — arrival order) has every file span
    // the px axis, so it prunes only by accident; the z layout bounds
    // both axes per file. One row, all integer.
    Gate("zorder_prune", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      import graft.operators.LayoutOps
      val base = graft.core.Caches.persistTracked(
        s.read.parquet(s"$d/lineitem.parquet")
          .select(pmod(col("l_partkey"), lit(1024)).cast("long").as("px"),
            pmod(col("l_orderkey"), lit(1024)).cast("long").as("ox"),
            pmod(expr("l_orderkey div 1024"), lit(64)).cast("long").as("nat")))
      val zstats = LayoutOps.bucketStats(base,
        shiftright(LayoutOps.zkey(col("px"), col("ox")), 14),
        col("px"), col("ox"))
      val nstats = LayoutOps.bucketStats(base, col("nat"), col("px"), col("ox"))
      val zp = LayoutOps.pruneStats(zstats, 300, 449, 600, 749)
        .select(col("n_buckets").as("z_n_buckets"),
          col("cand_buckets").as("z_cand_buckets"),
          col("cand_rows").as("z_cand_rows"))
      val np = LayoutOps.pruneStats(nstats, 300, 449, 600, 749)
        .select(col("n_buckets").as("nat_n_buckets"),
          col("cand_buckets").as("nat_cand_buckets"),
          col("cand_rows").as("nat_cand_rows"))
      zp.crossJoin(np)
    },
      s"""WITH b AS (SELECT l_partkey % 1024 AS px, l_orderkey % 1024 AS ox,
         |    (l_orderkey // 1024) % 64 AS nat FROM lineitem),
         |zs AS (SELECT ($zInterleaveSql) // 16384 AS bucket,
         |    COUNT(*) AS n_rows, MIN(px) AS min_x, MAX(px) AS max_x,
         |    MIN(ox) AS min_y, MAX(ox) AS max_y FROM b GROUP BY 1),
         |ns AS (SELECT nat AS bucket, COUNT(*) AS n_rows,
         |    MIN(px) AS min_x, MAX(px) AS max_x,
         |    MIN(ox) AS min_y, MAX(ox) AS max_y FROM b GROUP BY 1),
         |zp AS (SELECT COUNT(*) AS nb,
         |    SUM(CASE WHEN $pruneHitSql THEN 1 ELSE 0 END) AS cb,
         |    SUM(CASE WHEN $pruneHitSql THEN n_rows ELSE 0 END) AS cr FROM zs),
         |np AS (SELECT COUNT(*) AS nb,
         |    SUM(CASE WHEN $pruneHitSql THEN 1 ELSE 0 END) AS cb,
         |    SUM(CASE WHEN $pruneHitSql THEN n_rows ELSE 0 END) AS cr FROM ns)
         |SELECT CAST(zp.nb AS BIGINT) AS z_n_buckets,
         |  CAST(zp.cb AS BIGINT) AS z_cand_buckets,
         |  CAST(zp.cr AS BIGINT) AS z_cand_rows,
         |  CAST(np.nb AS BIGINT) AS nat_n_buckets,
         |  CAST(np.cb AS BIGINT) AS nat_cand_buckets,
         |  CAST(np.cr AS BIGINT) AS nat_cand_rows
         |FROM zp, np""".stripMargin),

    // ---------------------------------------------------- wire format (O3/O4)
    Gate("wire_parse", wireParse _,
      """WITH raw AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) || ',' || CAST(l_partkey AS VARCHAR)
        |    || ',' || CAST(l_suppkey AS VARCHAR) AS value FROM lineitem
        |  UNION ALL SELECT * FROM (VALUES ('bogus-line'), ('5'), ('1,2,x'), ('7,250')) v(value)),
        |p AS (SELECT string_split(value, ',') AS w FROM raw),
        |t AS (SELECT
        |  CASE WHEN regexp_matches(w[1], '^-?\d+$') THEN CAST(w[1] AS BIGINT) END AS id,
        |  [CASE WHEN regexp_matches(x, '^-?\d+(\.\d*)?$') THEN CAST(x AS DOUBLE) END for x in w[2:]] AS vals,
        |  len(w) AS n FROM p)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(SUM(id) AS BIGINT) AS sum_id,
        |  CAST(SUM(vals[1]) AS BIGINT) AS sum_v0
        |FROM t WHERE n >= 2 AND id IS NOT NULL
        |  AND len(list_filter(vals, x -> x IS NULL)) = 0""".stripMargin),

    // ---------------------------------------------------------- multimodal
    // REAL binary decode, no codec: every doc becomes a spec-valid 24bpp
    // BMP (dimensions a pure function of doc_id, pixel bytes from the
    // text), and decodeBmp must recover the dimensions by parsing the
    // actual little-endian header. The oracle states the ground-truth
    // dimensions WITHOUT parsing — any header-layout or endianness bug in
    // either builder or parser hash-mismatches. `bad` pins the non-BMP
    // rejection path (truncated magic-only payload → NULL).
    // mm_decode: GROUND-TRUTH dimensions straight from doc_id — the oracle
    // never builds or parses a BMP, so the Spark side's build→parse round
    // trip through real header bytes is what's being checked.
    Gate("mm_decode", (s, d) => {
      import graft.operators.MultimodalOps._
      docs(s, d)
        .select(col("source"),
          decodeBmp(bmpBlob(
            lit(1) + pmod(col("doc_id"), lit(24)),
            lit(1) + pmod(col("doc_id") * 7, lit(24)),
            asBlob(col("text")))).as("m"),
          decodeBmp(unhex(lit("424D3A000000"))).as("bad"))
        .select(col("source"), col("m"), col("bad"),
          resizeFit(col("m"), 224, 224).as("r"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("m.width")).as("sum_w"), sum(col("m.height")).as("sum_h"),
          sum(col("m.channels")).as("sum_c"),
          sum(col("r.width")).as("sum_rw"), sum(col("r.height")).as("sum_rh"),
          count(col("bad")).as("n_false_decode"))
    },
      """WITH m AS (SELECT source, 1 + (doc_id % 24) AS w,
        |  1 + ((doc_id * 7) % 24) AS hh FROM documents),
        |r AS (SELECT source, w, hh,
        |  LEAST(FLOOR(224000 / w), FLOOR(224000 / hh)) AS sc FROM m)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(w) AS BIGINT) AS sum_w, CAST(SUM(hh) AS BIGINT) AS sum_h,
        |  CAST(SUM(3) AS BIGINT) AS sum_c,
        |  CAST(SUM(GREATEST(1, FLOOR(w * sc / 1000))) AS BIGINT) AS sum_rw,
        |  CAST(SUM(GREATEST(1, FLOOR(hh * sc / 1000))) AS BIGINT) AS sum_rh,
        |  CAST(0 AS BIGINT) AS n_false_decode
        |FROM r GROUP BY source""".stripMargin),

    // Audio twin of mm_decode: every doc becomes a spec-valid PCM WAV
    // (format fields a pure function of doc_id, sample bytes from the
    // text); decodeWav must recover them by parsing the actual RIFF/fmt
    // header, and the oracle states ground truth without parsing. The
    // duration is the derived integer field (frames·1000/rate, floor), so
    // the data-chunk size arithmetic is checked too.
    // mm_wav: ground truth from doc_id + byte length — the Spark side's
    // build->parse round trip through real RIFF headers is what's checked.
    Gate("mm_wav", (s, d) => {
      import graft.operators.MultimodalOps._
      val ch = lit(1) + pmod(col("doc_id"), lit(2))
      val sr = element_at(array(lit(8000), lit(16000), lit(44100)),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val bits = element_at(array(lit(8), lit(16)),
        (pmod(col("doc_id"), lit(2)) + 1).cast("int"))
      docs(s, d)
        .select(col("source"),
          decodeWav(wavBlob(sr, ch, bits, asBlob(col("text")))).as("m"),
          decodeWav(unhex(lit("524946460800000057415645"))).as("bad"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("m.sample_rate")).as("sum_rate"),
          sum(col("m.channels")).as("sum_ch"),
          sum(col("m.bits")).as("sum_bits"),
          sum(col("m.n_frames")).as("sum_frames"),
          sum(col("m.duration_ms")).as("sum_ms"),
          count(col("bad")).as("n_false_decode"))
    },
      """WITH m AS (SELECT source,
        |  1 + (doc_id % 2) AS ch,
        |  CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS sr,
        |  CASE doc_id % 2 WHEN 0 THEN 8 ELSE 16 END AS bits,
        |  octet_length(encode(text)) AS ds FROM documents),
        |f AS (SELECT source, ch, sr, bits,
        |  ds // (ch * (bits // 8)) AS frames FROM m)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(sr) AS BIGINT) AS sum_rate,
        |  CAST(SUM(ch) AS BIGINT) AS sum_ch,
        |  CAST(SUM(bits) AS BIGINT) AS sum_bits,
        |  CAST(SUM(frames) AS BIGINT) AS sum_frames,
        |  CAST(SUM(frames * 1000 // sr) AS BIGINT) AS sum_ms,
        |  CAST(0 AS BIGINT) AS n_false_decode
        |FROM f GROUP BY source""".stripMargin),

    Gate("mm_frames", (s, d) => {
      import graft.operators.MultimodalOps._
      docs(s, d)
        .select(col("lang"),
          frameSample(asBlob(col("text")), 64, 48).as("frames"))
        .select(col("lang"), size(col("frames")).as("nf"),
          aggregate(col("frames"), lit(0),
            (acc, f) => acc + length(f)).as("frame_bytes"))
        .groupBy("lang")
        .agg(sum(col("nf")).as("total_frames"),
          sum(col("frame_bytes")).as("total_frame_bytes"),
          sum(when(col("nf") > 0, 1).otherwise(0)).as("docs_with_frames"))
    },
      """WITH b AS (SELECT lang, octet_length(encode(text)) AS bl FROM documents),
        |f AS (SELECT lang, bl,
        |  CASE WHEN bl >= 64 THEN CAST(FLOOR((bl - 64) / 48) AS INT) + 1 ELSE 0 END AS nf FROM b)
        |SELECT lang, CAST(SUM(nf) AS BIGINT) AS total_frames,
        |  CAST(SUM(COALESCE(list_sum([LEAST(64, bl - 48*i) for i in range(0, nf)]), 0)) AS BIGINT) AS total_frame_bytes,
        |  CAST(SUM(CASE WHEN nf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_frames
        |FROM f GROUP BY lang""".stripMargin),

    // PIXEL-level BMP addressing: 3×3 nearest-neighbor grid sample summed
    // per source. The oracle computes the same bytes straight from the
    // payload with independent stride arithmetic, so a row-stride,
    // padding, or bottom-up-flip bug in the addressing hash-mismatches.
    // mm_pixels: independent stride arithmetic from doc_id + payload hex —
    // byte at PAYLOAD offset p = rowSize·(h−1−y) + 3x + c (the file's
    // dataOffset=54 cancels because the pixel array IS the payload,
    // zero-filled past its end). A 3×3×3 lattice per doc via range cross
    // joins.
    Gate("mm_pixels", (s, d) => {
      import graft.operators.MultimodalOps._
      docs(s, d)
        .select(col("source"),
          bmpPixelGridSum(bmpBlob(
            lit(1) + pmod(col("doc_id"), lit(24)),
            lit(1) + pmod(col("doc_id") * 7, lit(24)),
            asBlob(col("text"))), 3).as("p"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("p.pix_sum")).as("pix_sum"),
          sum(col("p.n_bytes")).as("n_bytes"))
    }, {
      val hv1 = hexvalSql("substr(hx, 2*p + 1, 1)")
      val hv2 = hexvalSql("substr(hx, 2*p + 2, 1)")
      s"""WITH m AS (SELECT source, lower(hex(encode(text))) AS hx,
         |    octet_length(encode(text)) AS n,
         |    1 + (doc_id % 24) AS w, 1 + ((doc_id * 7) % 24) AS hh
         |  FROM documents),
         |g AS (SELECT source, hx, n, w, hh, ((3 * w + 3) // 4) * 4 AS rs FROM m),
         |pts AS (SELECT source, hx, n,
         |    rs * (hh - 1 - (j.j * (hh - 1) // 2)) + 3 * (i.i * (w - 1) // 2) + c.c AS p
         |  FROM g CROSS JOIN range(0, 3) i(i) CROSS JOIN range(0, 3) j(j)
         |  CROSS JOIN range(0, 3) c(c)),
         |b AS (SELECT source,
         |    CASE WHEN p < n THEN $hv1 * 16 + $hv2 ELSE 0 END AS v
         |  FROM pts)
         |SELECT source, CAST(COUNT(*) / 27 AS BIGINT) AS n_docs,
         |  CAST(SUM(v) AS BIGINT) AS pix_sum,
         |  CAST(COUNT(*) AS BIGINT) AS n_bytes
         |FROM b GROUP BY source""".stripMargin
    }),

    // PERCEPTUAL image hashing: 4×4 aHash per image (mean-threshold bits
    // over the downsampled luma lattice) → bucket-size census — the
    // image near-dup blocking readout (the binary-modality twin of
    // SimHash buckets on text). The oracle recomputes every sampled
    // byte, the mean threshold, and each doc's 16 bits independently.
    // mm_phash: per-doc 4×4 aHash recomputed from the payload bytes
    // (same stride/flip/zero-fill coordinates as mm_pixels), mean
    // threshold cross-multiplied, bit weights 1 << (j*4 + i), then the
    // bucket-size census over the 16-bit hashes.
    Gate("mm_phash", (s, d) => {
      import graft.operators.MultimodalOps._
      docs(s, d)
        .select(bmpAHash(bmpBlob(
          lit(1) + pmod(col("doc_id"), lit(24)),
          lit(1) + pmod(col("doc_id") * 7, lit(24)),
          asBlob(col("text"))), 4).as("p"))
        .groupBy(col("p.ahash").as("ahash"))
        .agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_buckets"))
    },
      s"""WITH $phashDocSql,
         |bk AS (SELECT ahash, CAST(COUNT(*) AS BIGINT) AS sz FROM hsh GROUP BY 1)
         |SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_buckets FROM bk GROUP BY 1""".stripMargin),

    // PERCEPTUAL near-dup PAIRING over the image aHashes — the actual
    // dedup use of the blocking key. Docs collapse to DISTINCT 16-bit
    // hash classes first, so the pair search scales with the value space
    // (≤ 2^16 classes) rather than the corpus, then the same Manku
    // block-combination pigeonhole search as dedup_simhash_pairs finds
    // every class pair within Hamming ≤ 2 (4 blocks → C(4,2) = 6
    // equi-joins, exact by construction) and n_pairs = cnt_a · cnt_b
    // counts the implied document pairs. Oracle brute-forces all class
    // pairs over an independently recomputed hash.
    // mm_phash_pairs: brute-force Hamming ≤ 2 pairing over the DISTINCT
    // aHash classes (with class sizes), replayed from the same per-doc
    // hash CTE — the Spark side's pigeonhole block-combination search
    // must produce exactly this set.
    Gate("mm_phash_pairs", (s, d) => {
      import graft.operators.MultimodalOps._
      // Persisted: referenced three times (signature + both count joins);
      // ≤ 2^16 rows by construction, so the broadcast joins stay tiny.
      val classes = graft.core.Caches.persistTracked(docs(s, d)
        .select(bmpAHash(bmpBlob(
          lit(1) + pmod(col("doc_id"), lit(24)),
          lit(1) + pmod(col("doc_id") * 7, lit(24)),
          asBlob(col("text"))), 4).as("p"))
        .filter(col("p.ahash").isNotNull)
        .groupBy(col("p.ahash").as("h")).agg(count(lit(1)).as("cnt")))
      graft.operators.DedupOps.hammingPairs(
          classes.select(col("h").as("id"), col("h")), 16, 2, 4)
        .select(col("id_a").as("h_a"), col("id_b").as("h_b"), col("dist"))
        .join(broadcast(classes.select(col("h").as("h_a"), col("cnt").as("cnt_a"))), "h_a")
        .join(broadcast(classes.select(col("h").as("h_b"), col("cnt").as("cnt_b"))), "h_b")
        .select(col("h_a"), col("h_b"), col("dist"),
          (col("cnt_a") * col("cnt_b")).as("n_pairs"))
    },
      s"""WITH $phashDocSql,
         |cls AS (SELECT CAST(ahash AS BIGINT) AS h,
         |    CAST(COUNT(*) AS BIGINT) AS cnt FROM hsh GROUP BY 1)
         |SELECT a.h AS h_a, b.h AS h_b,
         |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS dist,
         |  CAST(a.cnt * b.cnt AS BIGINT) AS n_pairs
         |FROM cls a JOIN cls b ON a.h < b.h
         |WHERE bit_count(xor(a.h, b.h)) <= 2""".stripMargin),

    // PERCEPTUAL near-dup CLUSTER COLLAPSE: the image duplicate GROUPS —
    // connected components over the Hamming ≤ 2 class-pair graph, the
    // same pairs→components step text dedup runs (dedup_clusters), each
    // cluster keyed by its minimum member hash and rolled up to class +
    // document counts. Everything after the per-doc hash scales with the
    // ≤ 2^16 distinct hash classes, not the corpus — so the class-pair
    // graph (≤ 136 Hamming ≤ 2 neighbors per class) is small, and
    // nearDupClusters collapses it with its driver-side union-find up to
    // 2^20 edges, not O(log d) Spark rounds over ~100 nodes. Oracle: brute-force
    // class pairs over the independently recomputed hash + recursive-CTE
    // reachability.
    // mm_phash_clusters: brute-force Hamming ≤ 2 class pairs over the
    // independently recomputed hash, mirrored into an edge list, closed
    // with a recursive reachability CTE (same pattern as dedup_clusters),
    // min-reachable-hash labels, then the per-cluster rollup.
    Gate("mm_phash_clusters", (s, d) => {
      import graft.operators.MultimodalOps._
      val classes = graft.core.Caches.persistTracked(docs(s, d)
        .select(bmpAHash(bmpBlob(
          lit(1) + pmod(col("doc_id"), lit(24)),
          lit(1) + pmod(col("doc_id") * 7, lit(24)),
          asBlob(col("text"))), 4).as("p"))
        .filter(col("p.ahash").isNotNull)
        .groupBy(col("p.ahash").as("h")).agg(count(lit(1)).as("cnt")))
      graft.operators.DedupOps.nearDupClusters(
          classes.select(col("h")), "h",
          graft.operators.DedupOps.hammingPairs(
            classes.select(col("h").as("id"), col("h")), 16, 2, 4))
        .join(classes.withColumnRenamed("h", "doc_id"), "doc_id")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_classes"), sum(col("cnt")).as("n_docs"))
    },
      s"""WITH RECURSIVE $phashDocSql,
         |cls AS (SELECT CAST(ahash AS BIGINT) AS h,
         |    CAST(COUNT(*) AS BIGINT) AS cnt FROM hsh GROUP BY 1),
         |prs AS (SELECT a.h AS ha, b.h AS hb FROM cls a JOIN cls b ON a.h < b.h
         |  WHERE bit_count(xor(a.h, b.h)) <= 2),
         |edges AS (SELECT ha AS a, hb AS b FROM prs UNION ALL SELECT hb, ha FROM prs),
         |reach(id, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT re.id, e.b FROM reach re JOIN edges e ON e.a = re.r),
         |lbl AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
         |SELECT CAST(COALESCE(l.cluster, c.h) AS BIGINT) AS cluster,
         |  CAST(COUNT(*) AS BIGINT) AS n_classes,
         |  CAST(SUM(c.cnt) AS BIGINT) AS n_docs
         |FROM cls c LEFT JOIN lbl l ON c.h = l.id GROUP BY 1""".stripMargin),

    // PERCEPTUAL audio fingerprinting: 16-segment energy-threshold bits
    // per clip (the audio twin of mm_phash) → bucket-size census — the
    // audio near-dup blocking readout. Oracle recomputes every sample's
    // squared deviation, the segment bounds, and each bit.
    // mm_audiohash: per-doc 16-segment energy fingerprint recomputed from
    // the payload bytes (floor-division segment bounds; empty segments 0),
    // mean threshold cross-multiplied, clips under 16 samples → NULL fp,
    // then the bucket-size census.
    Gate("mm_audiohash", (s, d) => {
      import graft.operators.MultimodalOps._
      docs(s, d)
        .select(wavFingerprint8(
          wavBlob(lit(8000), lit(1), lit(8), asBlob(col("text"))),
          AudioHashSegs).as("p"))
        .groupBy(col("p.fp").as("fp"))
        .agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_buckets"))
    },
      s"""WITH $audiohashDocSql,
         |bk AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS sz FROM fp GROUP BY 1)
         |SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_buckets FROM bk GROUP BY 1""".stripMargin),

    // PERCEPTUAL near-dup PAIRING over the audio fingerprints — the audio
    // twin of mm_phash_pairs: distinct 16-bit fingerprint classes (short
    // clips' NULL fingerprints excluded) paired by the same Manku
    // block-combination Hamming ≤ 2 search, n_pairs = cnt_a · cnt_b.
    // mm_audiohash_pairs: brute-force Hamming ≤ 2 pairing over the
    // DISTINCT fingerprint classes (NULL fingerprints — clips too short
    // to segment — excluded), replayed from the same per-doc CTE chain.
    Gate("mm_audiohash_pairs", (s, d) => {
      import graft.operators.MultimodalOps._
      val classes = graft.core.Caches.persistTracked(docs(s, d)
        .select(wavFingerprint8(
          wavBlob(lit(8000), lit(1), lit(8), asBlob(col("text"))),
          AudioHashSegs).as("p"))
        .filter(col("p.fp").isNotNull)
        .groupBy(col("p.fp").as("h")).agg(count(lit(1)).as("cnt")))
      graft.operators.DedupOps.hammingPairs(
          classes.select(col("h").as("id"), col("h")), AudioHashSegs, 2, 4)
        .select(col("id_a").as("h_a"), col("id_b").as("h_b"), col("dist"))
        .join(broadcast(classes.select(col("h").as("h_a"), col("cnt").as("cnt_a"))), "h_a")
        .join(broadcast(classes.select(col("h").as("h_b"), col("cnt").as("cnt_b"))), "h_b")
        .select(col("h_a"), col("h_b"), col("dist"),
          (col("cnt_a") * col("cnt_b")).as("n_pairs"))
    },
      s"""WITH $audiohashDocSql,
         |cls AS (SELECT CAST(fp AS BIGINT) AS h,
         |    CAST(COUNT(*) AS BIGINT) AS cnt FROM fp
         |  WHERE fp IS NOT NULL GROUP BY 1)
         |SELECT a.h AS h_a, b.h AS h_b,
         |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS dist,
         |  CAST(a.cnt * b.cnt AS BIGINT) AS n_pairs
         |FROM cls a JOIN cls b ON a.h < b.h
         |WHERE bit_count(xor(a.h, b.h)) <= 2""".stripMargin),

    // The audio twin of mm_phash_clusters: Hamming ≤ 2 fingerprint-class
    // components (short clips' NULL fingerprints excluded) → per-cluster
    // class + clip counts.
    // mm_audiohash_clusters: the audio twin of the mm_phash_clusters
    // oracle over the fingerprint classes (NULL fingerprints excluded).
    Gate("mm_audiohash_clusters", (s, d) => {
      import graft.operators.MultimodalOps._
      val classes = graft.core.Caches.persistTracked(docs(s, d)
        .select(wavFingerprint8(
          wavBlob(lit(8000), lit(1), lit(8), asBlob(col("text"))),
          AudioHashSegs).as("p"))
        .filter(col("p.fp").isNotNull)
        .groupBy(col("p.fp").as("h")).agg(count(lit(1)).as("cnt")))
      graft.operators.DedupOps.nearDupClusters(
          classes.select(col("h")), "h",
          graft.operators.DedupOps.hammingPairs(
            classes.select(col("h").as("id"), col("h")), AudioHashSegs, 2, 4))
        .join(classes.withColumnRenamed("h", "doc_id"), "doc_id")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_classes"), sum(col("cnt")).as("n_docs"))
    },
      s"""WITH RECURSIVE $audiohashDocSql,
         |cls AS (SELECT CAST(fp AS BIGINT) AS h,
         |    CAST(COUNT(*) AS BIGINT) AS cnt FROM fp
         |  WHERE fp IS NOT NULL GROUP BY 1),
         |prs AS (SELECT a.h AS ha, b.h AS hb FROM cls a JOIN cls b ON a.h < b.h
         |  WHERE bit_count(xor(a.h, b.h)) <= 2),
         |edges AS (SELECT ha AS a, hb AS b FROM prs UNION ALL SELECT hb, ha FROM prs),
         |reach(id, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT re.id, e.b FROM reach re JOIN edges e ON e.a = re.r),
         |lbl AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
         |SELECT CAST(COALESCE(l.cluster, c.h) AS BIGINT) AS cluster,
         |  CAST(COUNT(*) AS BIGINT) AS n_classes,
         |  CAST(SUM(c.cnt) AS BIGINT) AS n_docs
         |FROM cls c LEFT JOIN lbl l ON c.h = l.id GROUP BY 1""".stripMargin),

    // SAMPLE-level audio windowing: per-50-sample energy over 8-bit mono
    // PCM, max + sum per lang (the silence/clipping localization signal).
    // Partial tail windows drop, so the windowing arithmetic — not just
    // the byte total — is hashed.
    // mm_energy: same windowing straight from the payload bytes — sample
    // i = byte i of the text (8-bit mono PCM), window w covers samples
    // 50w..50w+49, partial tails dropped.
    Gate("mm_energy", (s, d) => {
      import graft.operators.MultimodalOps._
      docs(s, d)
        .select(col("lang"),
          wavWindowEnergy8(
            wavBlob(lit(8000), lit(1), lit(8), asBlob(col("text"))),
            50).as("e"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("e.n_windows")).as("n_windows"),
          sum(col("e.sum_energy")).as("sum_energy"),
          max(col("e.max_energy")).as("max_energy"))
    }, {
      val hv1 = hexvalSql("substr(hx, 2*(50*w + k) + 1, 1)")
      val hv2 = hexvalSql("substr(hx, 2*(50*w + k) + 2, 1)")
      s"""WITH m AS (SELECT doc_id, lang, lower(hex(encode(text))) AS hx,
         |    octet_length(encode(text)) AS n FROM documents),
         |wl AS (SELECT doc_id, lang, hx, unnest(range(0, n // 50)) AS w
         |  FROM m),
         |kl AS (SELECT doc_id, lang, hx, w, unnest(range(0, 50)) AS k FROM wl),
         |we AS (SELECT doc_id, lang, w,
         |    SUM(($hv1 * 16 + $hv2 - 128) * ($hv1 * 16 + $hv2 - 128)) AS energy
         |  FROM kl GROUP BY 1, 2, 3),
         |per_doc AS (SELECT doc_id, lang, COUNT(*) AS nw,
         |    SUM(energy) AS se, MAX(energy) AS me FROM we GROUP BY 1, 2)
         |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(COALESCE(p.nw, 0)) AS BIGINT) AS n_windows,
         |  CAST(SUM(COALESCE(p.se, 0)) AS BIGINT) AS sum_energy,
         |  CAST(MAX(COALESCE(p.me, 0)) AS BIGINT) AS max_energy
         |FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
         |GROUP BY d.lang""".stripMargin
    }),

    // Feature extraction over the blob column (REAL, codec-free): per-source
    // byte-value histogram sums — the corrupt-payload / wrong-modality
    // signal. One scan, zero shuffle before the group sums.
    // mm_profile: high hex nibble of byte i at position 2i−1; bin b covers
    // nibble digits {2b, 2b+1}.
    Gate("mm_profile", (s, d) => {
      import graft.operators.MultimodalOps._
      val aggs = (0 until 8).map(b => sum(s"f$b").as(s"f$b"))
      // `prof` projected to a named column BEFORE the per-bin fanout: 8
      // references to a non-cheap projection stay materialized
      // (CollapseProject keeps the boundary), so the histogram fold runs
      // once per row, not once per element_at.
      docs(s, d)
        .select(col("source"), byteProfile(asBlob(col("text"))).as("prof"))
        .select(col("source") +:
          (0 until 8).map(b => element_at(col("prof"), b + 1).as(s"f$b")): _*)
        .groupBy("source")
        .agg(aggs.head, aggs.tail: _*)
    }, {
      val digits = "0123456789ABCDEF"
      val cols = (0 until 8).map { b =>
        val (d1, d2) = (digits(2 * b), digits(2 * b + 1))
        s"CAST(SUM(COALESCE(list_sum([CASE WHEN substr(hx, 2*i-1, 1) IN ('$d1', '$d2') THEN 1 ELSE 0 END for i in range(1, n + 1)]), 0)) AS BIGINT) AS f$b"
      }.mkString(",\n  ")
      s"""WITH b AS (SELECT source, hex(encode(text)) AS hx,
         |  octet_length(encode(text)) AS n FROM documents)
         |SELECT source,
         |  $cols
         |FROM b GROUP BY source""".stripMargin
    })
  )

  private val SessionGapUs = 1800L * 1000000L

  /** PII probe rows for `pii_redact` (FIXTURES.md-style planted inputs —
    * the synthetic corpus contains no PII): emails, dashed phones, URLs,
    * and a mixed row exercising the staged redaction order. */
  private val PiiProbes: Seq[(Long, String)] = Seq(
    9000001L -> "contact me at alice@example.com or bob.smith@test.org thanks",
    9000002L -> "call 555-123-4567 or 555-987-6543 now",
    9000003L -> "see https://example.com/docs/a and http://foo.bar/x page",
    9000004L -> "email a@b.co visit https://c.de/path-1 call 111-222-3333")

  /** Wire-format parse (O3/O4): lineitem integer keys re-serialized as the
    * reference's headerless CSV plus malformed probes; the parse must keep
    * exactly the well-formed rows ("7,250" is a valid 1-dim tuple, "5" has
    * too few fields, "1,2,x" has an unparseable value — FIXTURES.md §1.1).
    */
  private def wireParse(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val raw = docs(s, d).sparkSession.read.parquet(s"$d/lineitem.parquet")
      .select(concat_ws(",",
        col("l_orderkey"), col("l_partkey"), col("l_suppkey")).as("value"))
      .unionAll(Seq("bogus-line", "5", "1,2,x", "7,250").toDF("value"))
    graft.sources.WireFormat.parsePoints(raw)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("id")).as("sum_id"),
        sum(element_at(col("values"), 1)).cast("long").as("sum_v0"))
  }

  private val EmbDims   = 64
  private val LshTables = 4
  private val LshBits   = 4
  /** (tables, bits) settings of the `ann_recall_sweep` gate — the default
    * operating point plus one cheaper and one finer-bucketed neighbor. */
  private val LshSweep  = Seq((2, 4), (4, 4), (4, 6))
  private val KnnGraphK = 3
  private val IvfCentLo = 8
  private val IvfCentHi = 23
  private val IvfProbes = 3
  private val KmCentLo  = 8
  private val KmCentHi  = 15
  private val KmIters   = 3
  /** Sampled-Lloyd draw modulus of the knn_ivfk_sampled / ann_recall_ivfk_s
    * gates: 1-in-2 keeps the sf0.01 training sample large enough that the
    * fixture's recall stays at the full-scan model's level while the
    * sampled chain (distinct centroids, distinct assignment) is what the
    * oracle actually replays. */
  private val IvfkSampleMod = 2
  // knn_lsh's 4-bit hyperplane geometry with ONE FEWER table and 2
  // single-bit-flip probes: measured recall@5 at sf0.01 is 31/40 vs
  // knn_lsh's 28/40 — the flips more than pay back the dropped table
  // (the multi-probe trade the operator exists for).
  private val MpTables  = 3
  private val MpBits    = 4
  private val MpFlips   = 2
  private val KmppK     = 8
  private val PqM       = 4
  private val PqIters   = 2
  /** ADC candidate-pool size of the knn_ivfpq_rerank / ann_recall_ivfpq_rr
    * gates (the exact-refine stage re-ranks this many ADC winners per
    * query) — 4× k, small enough that the fixture's refine genuinely
    * reorders the pool instead of degenerating to brute force. */
  private val RrCand    = 20
  private val BpeSteps  = 8
  private val ProjDims  = 8
  private val SemMinCos = 0.35
  private val PrIters   = 5
  private val PrScale   = 1000000000000L
  /** k-core peel: coreness bound, the FIXED peel-round count (a fixpoint
    * round is a no-op, so any rounds ≥ the data's peel depth yields the
    * exact k-core — property-tested in GraphOpsSpec), and the cosine
    * cutoff of the similarity graph it peels. The kNN graph is the wrong
    * substrate here (every node has ≥ K neighbors by construction, so
    * peels are all-or-nothing); the THRESHOLD graph's degrees follow
    * local density, which is what gives the peel a real partial cascade
    * (measured at sf0.01: 305/500 survive, convergence in 5 rounds). */
  private val KcoreK      = 4
  private val KcoreRounds = 8
  private val KcoreMinCos = 0.25
  private val LpaRounds   = 4
  private val CmsDepth    = 3
  private val CmsWidth    = 256
  private val CmsTopK     = 20
  private val EwmaWindow  = 14
  private val SpikeWindow = 7
  private val DsirBuckets = 256
  private val DsirScale   = 65536L
  /** Keeps `offset + score` positive so Spark's truncating `div` and
    * DuckDB's floor `//` agree on the band (scores are bounded by ±16
    * bits × tokens-per-doc, far inside 2²⁰). */
  private val DsirBandOffset = 1048576L
  private val PmiMinDf    = 10L
  private val PmiMinPair  = 5L
  private val AudioHashSegs = 16

  /** Shared oracle CTE chain for the perceptual audio fingerprint:
    * per-doc 16-segment energy-threshold bits recomputed independently
    * from the payload bytes, ending in `fp(doc_id, fp)` (NULL fp for
    * clips shorter than the segment count) — consumed by both the bucket
    * census (mm_audiohash) and the Hamming pairing (mm_audiohash_pairs). */
  private lazy val audiohashDocSql: String = {
    val hv1 = hexvalSql("substr(hx, 2*k + 1, 1)")
    val hv2 = hexvalSql("substr(hx, 2*k + 2, 1)")
    val segs = AudioHashSegs
    s"""m AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
       |    octet_length(encode(text)) AS n FROM documents),
       |sl AS (SELECT doc_id, hx, n, unnest(range(0, $segs)) AS s FROM m),
       |kl AS (SELECT doc_id, s, hx,
       |    unnest(range(s * n // $segs, (s + 1) * n // $segs)) AS k FROM sl),
       |se AS (SELECT doc_id, s,
       |    SUM(($hv1 * 16 + $hv2 - 128) * ($hv1 * 16 + $hv2 - 128)) AS e
       |  FROM kl GROUP BY 1, 2),
       |tot AS (SELECT doc_id, SUM(e) AS total FROM se GROUP BY 1),
       |raw AS (SELECT sl.doc_id,
       |    SUM(CASE WHEN COALESCE(se.e, 0) * $segs > COALESCE(t.total, 0)
       |      THEN (CAST(1 AS BIGINT) << sl.s) ELSE 0 END) AS rawfp
       |  FROM sl LEFT JOIN se ON se.doc_id = sl.doc_id AND se.s = sl.s
       |  LEFT JOIN tot t ON t.doc_id = sl.doc_id GROUP BY 1),
       |fp AS (SELECT m.doc_id,
       |    CASE WHEN m.n >= $segs THEN r.rawfp ELSE NULL END AS fp
       |  FROM m JOIN raw r USING (doc_id))""".stripMargin
  }

  /** Shared oracle CTE chain for the perceptual image hash: per-doc 4×4
    * aHash recomputed independently from the payload bytes (same
    * stride/flip/zero-fill coordinates as mm_pixels), ending in
    * `hsh(doc_id, ahash)` — consumed by both the bucket census
    * (mm_phash) and the Hamming pairing (mm_phash_pairs). */
  private lazy val phashDocSql: String = {
    val hv1 = hexvalSql("substr(hx, 2*p + 1, 1)")
    val hv2 = hexvalSql("substr(hx, 2*p + 2, 1)")
    s"""m AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
       |    octet_length(encode(text)) AS n,
       |    1 + (doc_id % 24) AS w, 1 + ((doc_id * 7) % 24) AS hh
       |  FROM documents),
       |g AS (SELECT doc_id, hx, n, w, hh, ((3 * w + 3) // 4) * 4 AS rs FROM m),
       |pts AS (SELECT doc_id, i.i, j.j,
       |    rs * (hh - 1 - (j.j * (hh - 1) // 3)) + 3 * (i.i * (w - 1) // 3) + c.c AS p,
       |    hx, n
       |  FROM g CROSS JOIN range(0, 4) i(i) CROSS JOIN range(0, 4) j(j)
       |  CROSS JOIN range(0, 3) c(c)),
       |cells AS (SELECT doc_id, i, j,
       |    SUM(CASE WHEN p < n THEN $hv1 * 16 + $hv2 ELSE 0 END) AS b
       |  FROM pts GROUP BY 1, 2, 3),
       |tot AS (SELECT doc_id, SUM(b) AS total FROM cells GROUP BY 1),
       |hsh AS (SELECT c.doc_id,
       |    SUM(CASE WHEN c.b * 16 > t.total
       |      THEN (CAST(1 AS BIGINT) << (c.j * 4 + c.i)) ELSE 0 END) AS ahash
       |  FROM cells c JOIN tot t USING (doc_id) GROUP BY 1)""".stripMargin
  }

  /** Per-query recall@5 of an ANN `method` result (qid, nid, …) against
    * the exact-cosine baseline over the same query set: n_true = baseline
    * neighbors, n_hit = those the method also returned. Integer counts,
    * engine-exact — shared by all four `ann_recall*` gates. Both sides are
    * query-set-sized (8 × 5 rows), so the join is trivially broadcast. */
  private[graft] def annRecall(method: DataFrame, e: DataFrame): DataFrame = {
    val brute = graft.operators.VectorOps.knnBrute(
      e, "vec_id", "embedding", col("vec_id") < 8, 5)
    brute.select(col("qid"), col("nid"))
      .join(method.select(col("qid"), col("nid"), lit(1L).as("hit")),
        Seq("qid", "nid"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
  }

  /** VALUES rows of the deterministic hyperplanes (table, bit, components)
    * for a given (tables, bits) setting — shared by every LSH-replaying
    * oracle; the sweep oracle instantiates one per setting. */
  private def planesValuesSqlFor(tables: Int, bits: Int): String =
    (for { t <- 0 until tables; b <- 0 until bits } yield {
      val vals = (0 until EmbDims)
        .map(i => graft.operators.VectorOps.planeText((t * bits + b) * EmbDims + i))
        .mkString(", ")
      s"($t, $b, [$vals])"
    }).mkString(",\n")

  private def planesValuesSql: String = planesValuesSqlFor(LshTables, LshBits)

  /** CTE chain ending in `e` (raw float vectors) and `sqtop(qid, nid)` —
    * the SQ8 candidate set: int8 quantization (the emb_quant replay),
    * INTEGER dot products against the 8 query vectors, deterministic
    * (dot desc, nid) top-`cand`. Shared by the knn_sq8 and ann_recall_sq8
    * oracles. */
  private def sq8Ctes(cand: Int): String =
    s"""e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |qz AS (SELECT vec_id, CASE WHEN scale > 0
       |    THEN [CAST(FLOOR(x / scale + 0.5) AS BIGINT) for x in dv]
       |    ELSE [CAST(0 AS BIGINT) for x in dv] END AS iv
       |  FROM (SELECT vec_id, dv, list_max([abs(x) for x in dv]) / 127.0 AS scale
       |        FROM (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS dv FROM embeddings))),
       |sqc AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
       |    list_sum([a.iv[i] * b.iv[i] for i in range(1, ${EmbDims + 1})]) AS idot
       |  FROM qz a JOIN qz b ON a.vec_id < 8 AND b.vec_id != a.vec_id),
       |sqtop AS (SELECT qid, nid FROM (
       |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY idot DESC, nid) AS crnk FROM sqc)
       |  WHERE crnk <= $cand)""".stripMargin

  /** DuckDB double-precision cosine with the same sequential fold and the
    * same float→double casts as [[graft.operators.VectorOps.cosine]]. */
  /** CTE chain ending in `e` (raw vectors) and `mpcand(qid, nid)` — the
    * multi-probe LSH candidate replay: projections per (query, plane),
    * base buckets, the (ABS(margin), bit) flip ranking, XOR'd probe
    * buckets (base ∪ flips rn ≤ MpFlips), corpus buckets, and the probe ⋈
    * bucket candidate join. Shared by the knn_lsh_mp / ann_recall_mp
    * oracles; replayed UNCAPPED, per the documented bucket-cap contract
    * ([[graft.operators.DedupOps.DefaultMaxBucket]]). */
  private def mpCtes: String = {
    val pdot = s"list_sum([CAST(e.v[i] AS DOUBLE) * pl.p[i] for i in range(1, ${EmbDims + 1})])"
    s"""planes(t, b, p) AS (VALUES
       |${planesValuesSqlFor(MpTables, MpBits)}),
       |e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |qproj AS (SELECT e.vec_id AS qid, pl.t, pl.b, $pdot AS pd
       |  FROM e, planes pl WHERE e.vec_id < 8),
       |qbase AS (SELECT qid, t,
       |  CAST(SUM(CASE WHEN pd >= 0 THEN (1 << b) ELSE 0 END) AS INTEGER) AS base
       |  FROM qproj GROUP BY 1, 2),
       |qflip AS (SELECT qid, t, b,
       |  ROW_NUMBER() OVER (PARTITION BY qid, t ORDER BY ABS(pd), b) AS rn FROM qproj),
       |probes AS (SELECT qid, t, base AS bucket FROM qbase
       |  UNION ALL
       |  SELECT f.qid, f.t, CAST(xor(qb.base, (1 << f.b)) AS INTEGER) AS bucket
       |  FROM qflip f JOIN qbase qb ON qb.qid = f.qid AND qb.t = f.t
       |  WHERE f.rn <= $MpFlips),
       |buck AS (SELECT e.vec_id AS id, pl.t,
       |  CAST(SUM(CASE WHEN $pdot >= 0 THEN (1 << pl.b) ELSE 0 END) AS INTEGER) AS bucket
       |  FROM e, planes pl GROUP BY 1, 2),
       |mpcand AS (SELECT p.qid, x.id AS nid
       |  FROM probes p JOIN buck x ON x.t = p.t AND x.bucket = p.bucket
       |  WHERE x.id != p.qid GROUP BY 1, 2)""".stripMargin
  }

  private def cosSql(a: String, b: String): String = {
    def d(x: String, y: String) =
      s"list_sum([CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE) for i in range(1, ${EmbDims + 1})])"
    s"${d(a, b)} / (sqrt(${d(a, a)}) * sqrt(${d(b, b)}))"
  }

  /** Shared CTE chain ending in `kg(qid, nid, rnk)` — the full kNN-graph
    * build (LSH buckets → symmetric collisions → exact cosine → top-K per
    * vector), consumed by the knn_graph gate and as the edge source of the
    * graph_pagerank oracle. */
  private lazy val knnGraphCtes: String = {
    val pdot = s"list_sum([CAST(e.v[i] AS DOUBLE) * pl.p[i] for i in range(1, ${EmbDims + 1})])"
    val cos  = cosSql("a.v", "b.v")
    s"""planes(t, b, p) AS (VALUES
       |$planesValuesSql),
       |e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |buck AS (SELECT e.vec_id AS id, pl.t,
       |  CAST(SUM(CASE WHEN $pdot >= 0 THEN (1 << pl.b) ELSE 0 END) AS INTEGER) AS bucket
       |  FROM e, planes pl GROUP BY 1, 2),
       |cand AS (SELECT x.id AS qid, y.id AS nid
       |  FROM buck x JOIN buck y ON x.t = y.t AND x.bucket = y.bucket AND x.id != y.id
       |  GROUP BY 1, 2),
       |s AS (SELECT c.qid, c.nid, $cos AS sim
       |  FROM cand c JOIN e a ON a.vec_id = c.qid JOIN e b ON b.vec_id = c.nid),
       |kg AS (SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk FROM (
       |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM s)
       |WHERE rnk <= $KnnGraphK)""".stripMargin
  }

  /** CTE chain replaying [[graft.operators.ModelOps.stumpTrain]]: feature
    * extraction (`f` — token count, long-word count, stop hits; label =
    * the n_chars budget split, mirroring ModelOps.features expression by
    * expression), the feature melt (`u`), per-(feature, value) label
    * counts (`g`), and the cumulative-sum threshold sweep (`e`:
    * errors(θ) = positives below θ + negatives at/above θ). */
  private lazy val stumpCtes: String = {
    import graft.operators.ModelOps.{CharBudget, LongWordLen}
    val melt = graft.operators.ModelOps.FeatureNames
      .map(f => s"SELECT y, '$f' AS feature, $f AS v FROM f")
      .mkString("\n  UNION ALL ")
    val below =
      "OVER (PARTITION BY feature ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    s"""t AS (SELECT n_chars, string_split(text, ' ') AS w FROM documents),
       |f AS (SELECT
       |  CASE WHEN n_chars >= $CharBudget THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y,
       |  CAST(len(w) AS BIGINT) AS n_tok,
       |  CAST(len(list_filter(w, t -> len(t) >= $LongWordLen)) AS BIGINT) AS n_long,
       |  CAST(${hitSql(TextOps.LangProfiles.head._2)} AS BIGINT) AS n_stop
       |  FROM t),
       |u AS ($melt),
       |g AS (SELECT feature, v,
       |  SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS np,
       |  SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS nn
       |  FROM u GROUP BY 1, 2),
       |e AS (SELECT feature, v AS thr,
       |  COALESCE(SUM(np) $below, 0)
       |  + SUM(nn) OVER (PARTITION BY feature)
       |  - COALESCE(SUM(nn) $below, 0) AS errs
       |  FROM g)""".stripMargin
  }

  // DuckDB equivalents. Dialect notes: regexp_replace needs the 'g' flag
  // (Spark replaces all matches by default); tokens via string_split; list
  // comprehensions for shingles.
  private val langScores =
    TextOps.LangProfiles.map { case (l, ws) => s"${hitSql(ws)} AS s_$l" }.mkString(", ")

  /** The quality-score formula (expects `w` tokens and `nc` char count in
    * scope) — shared by the txt_quality and curate_counts oracles. */
  /** The four quality flags of [[graft.operators.TextOps.qualityFlags]] in
    * DuckDB terms (over a CTE exposing tokens `w` and char count `nc`) —
    * individually consumed as perceptron features, summed into scoreSql. */
  private val flagSqls: Seq[String] = Seq(
    "CASE WHEN nc >= 50 AND nc <= 2000 THEN 1 ELSE 0 END",
    "CASE WHEN len(w) >= 10 AND len(w) <= 500 THEN 1 ELSE 0 END",
    s"CASE WHEN ${hitSql(TextOps.LangProfiles.head._2)} * 5 >= len(w) THEN 1 ELSE 0 END",
    "CASE WHEN nc - (len(w) - 1) >= len(w) * 3 AND nc - (len(w) - 1) <= len(w) * 8 THEN 1 ELSE 0 END")

  private val scoreSql: String =
    flagSqls.map(f => s"($f)").mkString("\n  + ")

  /** [[graft.operators.TextOps.hashBucketCol]] in DuckDB terms. */
  private def bucketSql(t: String): String =
    s"(ascii(substr(md5($t),1,1))*59 + ascii(substr(md5($t),2,1))*17 + ascii(substr(md5($t),3,1))) % 100"

  /** DuckDB replay of [[graft.plans.ZOrder2]] over the quantized dims
    * `px`/`ox` (10 bits each): bit i of px at z-bit 2i, bit i of ox at
    * 2i+1, as pure floor-div/mod arithmetic on positive values. */
  private lazy val zInterleaveSql: String = (0 until 10).map { i =>
    s"((px // ${1L << i}) % 2) * ${1L << (2 * i)} + ((ox // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
  }.mkString(" + ")

  /** The zorder_prune box-intersection predicate over bucket stats. */
  private val pruneHitSql: String =
    "(min_x <= 449 AND max_x >= 300 AND min_y <= 749 AND max_y >= 600)"

  /** Value of one (lowercase) md5 hex char in DuckDB. */
  private def hexvalSql(c: String): String =
    s"(ascii($c) - CASE WHEN ascii($c) >= 97 THEN 87 ELSE 48 END)"

  /** Shared SimHash CTE prefix: per-doc 64-bit md5-token SimHash as
    * `sig(doc_id, simhash)`, replaying [[graft.operators.DedupOps.md5TokenHash]]
    * + [[graft.operators.DedupOps.simhash64Rows]] bit-for-bit. Bit p of a
    * token's hash lives in hex char (63−p)/4+1 of its md5 (the first 16
    * chars big-endian), extracted with integer div/mod — no 64-bit
    * arithmetic that could trap DuckDB's overflow checks. The signature
    * reassembles as a sum of 2^p weights (p = 63 spelled -2^63 via
    * subtraction so the literal itself stays BIGINT). */
  private val simhashSigSql: String = {
    val sums = (0 until 64).map { p =>
      val j = (63 - p) / 4 + 1
      val div = 1 << (p % 4)
      s"SUM(CASE WHEN (${hexvalSql(s"substr(hx,$j,1)")} // $div) % 2 = 1 THEN 1 ELSE -1 END) AS s_$p"
    }.mkString(",\n  ")
    val weights = (0 until 64).map { p =>
      val w = if (p == 63) "(-9223372036854775807 - 1)" else (1L << p).toString
      s"(CASE WHEN s_$p >= 0 THEN CAST($w AS BIGINT) ELSE 0 END)"
    }.mkString("\n  + ")
    s"""toks AS (SELECT doc_id, md5(unnest(string_split(coalesce(text, ''), ' '))) AS hx FROM documents),
       |sums AS (SELECT doc_id,
       |  $sums
       |  FROM toks GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($weights AS BIGINT) AS simhash FROM sums)""".stripMargin
  }

  /** Integer squared-L2 between quantized vector `q.v` and centroid `c.cv`
    * (expects those aliases in scope). */
  private val kmDistSql =
    s"list_sum([(q.v[i]-c.cv[i])*(q.v[i]-c.cv[i]) for i in range(1, ${EmbDims + 1})])"

  /** Replays kmeansAssign's training: quantize (the emb_quant pipeline),
    * seed c0 from vec_id $KmCentLo..$KmCentHi, then per iteration
    * argmin-assign (integer squared L2, ties to lowest cid) / integer
    * dimension sums / round-half-away integer centroid update (empty cells
    * keep their centroid). Yields CTEs `q` (quantized corpus) and
    * `c$KmIters` (trained centroids) — shared by the emb_kmeans and
    * knn_ivf_kmeans oracles. */
  /** The quantization CTEs (`e`, `sc`, `q`) shared by every k-means oracle. */
  private val kmQuantCtes: String =
    s"""e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS ev FROM embeddings),
       |sc AS (SELECT vec_id, ev, list_max([abs(x) for x in ev]) / 127.0 AS scale FROM e),
       |q AS (SELECT vec_id AS id,
       |  CASE WHEN scale > 0 THEN [CAST(FLOOR(x / scale + 0.5) AS BIGINT) for x in ev]
       |       ELSE [CAST(0 AS BIGINT) for x in ev] END AS v FROM sc)""".stripMargin

  /** The Lloyd iteration CTE chain a1..c$KmIters over training source CTE
    * `src` (expects `src` with (id, v) and `c0`) — `q` for full-corpus
    * training, the sampled CTE for [[graft.operators.VectorOps
    * .ivfModelSampled]]'s replay. */
  private def kmIterCtesFrom(src: String): String = {
    val sumCols = (1 to EmbDims).map(i => s"SUM(v[$i]) AS s$i").mkString(", ")
    val centList = (1 to EmbDims).map(i =>
      s"CAST(CASE WHEN s$i < 0 THEN -((2*(-s$i) + n) // (2*n)) ELSE (2*s$i + n) // (2*n) END AS BIGINT)")
      .mkString("[", ", ", "]")
    (1 to KmIters).map { t =>
      s"""a$t AS (SELECT id, v, cid FROM (
         |  SELECT id, v, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
         |  FROM (SELECT q.id, q.v, c.cid, $kmDistSql AS d FROM $src q, c${t - 1} c)) WHERE rn = 1),
         |g$t AS (SELECT cid, COUNT(*) AS n, $sumCols FROM a$t GROUP BY cid),
         |c$t AS (SELECT c.cid, CASE WHEN g.cid IS NULL THEN c.cv ELSE $centList END AS cv
         |  FROM c${t - 1} c LEFT JOIN g$t g ON c.cid = g.cid)""".stripMargin
    }.mkString(",\n")
  }

  private val kmIterCtes: String = kmIterCtesFrom("q")

  private val kmeansCteSql: String =
    s"""$kmQuantCtes,
       |c0 AS (SELECT id AS cid, v AS cv FROM q WHERE id BETWEEN $KmCentLo AND $KmCentHi),
       |$kmIterCtes""".stripMargin

  /** The SAMPLED-training replay ([[graft.operators.VectorOps
    * .ivfModelSampled]]): identical quantization + seeding, but the Lloyd
    * chain trains from `qs` — the rows whose salted-md5 base-31 draw
    * (CorpusOps.hashDrawCol, salt "ivfs:") ≡ 0 mod $IvfkSampleMod. */
  /** The salted-md5 base-31 training draw (CorpusOps.hashDrawCol with
    * salt "ivfs:") over the quantized id — shared by every sampled-
    * training oracle. */
  private val ivfsDrawSql: String = (1 to 6)
    .map(i => s"CAST(ascii(substr(md5('ivfs:' || CAST(id AS VARCHAR)), $i, 1)) AS BIGINT)")
    .reduce((a, b) => s"($a * 31 + $b)")

  private val ivfkSampledCteSql: String =
    s"""$kmQuantCtes,
       |qs AS (SELECT id, v FROM q WHERE $ivfsDrawSql % $IvfkSampleMod = 0),
       |c0 AS (SELECT id AS cid, v AS cv FROM q WHERE id BETWEEN $KmCentLo AND $KmCentHi),
       |${kmIterCtesFrom("qs")}""".stripMargin

  /** The SAMPLED farthest-first replay ([[graft.operators.VectorOps
    * .kmeansFarthestFirstSampled]]): seeding argmaxes AND the Lloyd chain
    * run over the sampled CTE `qs`; assignment over the full corpus.
    * `qs` and the seed sets are MATERIALIZED, as in [[kmppCteSql]]. */
  private lazy val kmppSampledCteSql: String = {
    val steps = (2 to KmppK).map { j =>
      s"""d$j AS (SELECT q.id, MIN($kmDistSql) AS md FROM qs q, s${j - 1} c GROUP BY q.id),
         |n$j AS (SELECT q.id, q.v FROM qs q JOIN (SELECT id FROM d$j ORDER BY md DESC, id LIMIT 1) t USING (id)),
         |s$j AS MATERIALIZED (SELECT * FROM s${j - 1} UNION ALL SELECT id AS cid, v AS cv FROM n$j)""".stripMargin
    }.mkString(",\n")
    s"""$kmQuantCtes,
       |qs AS MATERIALIZED (SELECT id, v FROM q WHERE $ivfsDrawSql % $IvfkSampleMod = 0),
       |s1 AS MATERIALIZED (SELECT id AS cid, v AS cv FROM qs WHERE id = (SELECT MIN(id) FROM qs)),
       |$steps,
       |c0 AS (SELECT cid, cv FROM s$KmppK),
       |${kmIterCtesFrom("qs")}""".stripMargin
  }

  /** The knn_ivfk_sampled replay chain ending in ranked CTE `r` — the
    * identical probe/re-rank SQL over the SAMPLED-trained centroids
    * (full-corpus assignment, as the engine). */
  private lazy val ivfkSampledRankedCtes: String =
    ivfRankedCtesFrom(ivfkSampledCteSql)

  /** Farthest-first seeding chain s1..s$KmppK (expects `q`): s1 = the min
    * id; each s_{j} adds the vector maximizing its min distance to s_{j-1}
    * (ties to the lowest id) — replaying
    * [[graft.operators.VectorOps.kmeansFarthestFirst]]'s seeding. Each
    * s_{j} reads s_{j-1} twice (directly and through d_{j}), and DuckDB
    * does not share a CTE between its readers unless it is MATERIALIZED:
    * unshared, the chain is recomputed exponentially in k. */
  private val kmppCteSql: String = {
    val steps = (2 to KmppK).map { j =>
      s"""d$j AS (SELECT q.id, MIN($kmDistSql) AS md FROM q, s${j - 1} c GROUP BY q.id),
         |n$j AS (SELECT q.id, q.v FROM q JOIN (SELECT id FROM d$j ORDER BY md DESC, id LIMIT 1) t USING (id)),
         |s$j AS MATERIALIZED (SELECT * FROM s${j - 1} UNION ALL SELECT id AS cid, v AS cv FROM n$j)""".stripMargin
    }.mkString(",\n")
    s"""$kmQuantCtes,
       |s1 AS MATERIALIZED (SELECT id AS cid, v AS cv FROM q WHERE id = (SELECT MIN(id) FROM q)),
       |$steps,
       |c0 AS (SELECT cid, cv FROM s$KmppK),
       |$kmIterCtes""".stripMargin
  }

  /** PQ oracle CTEs: per subspace `sp`, the subvector slice `q<sp>`, a Lloyd
    * chain `c0_<sp>..c<PqIters>_<sp>` (the kmIterCtes shape parameterized to
    * the slice width), corpus codes `code<sp>` (argmin cid, ties low), and
    * the query ADC table `qd<sp>` (distance to EVERY sub-centroid). */
  private val pqCteSql: String = s"$kmQuantCtes,\n$pqChainsCte"

  /** The per-subspace chains alone (expects `q`; with `trainSrc = "qs"`
    * also the sampled CTE `qs`) — composable after any other chain that
    * also consumes `q` (the knn_ivfpq oracle runs them beside the coarse
    * kmeans chain). The Lloyd iterations train from `trainSrc`'s
    * subspace slices — "q" replays [[graft.operators.VectorOps
    * .ivfPqModel]], "qs" the SAMPLED book training of
    * [[graft.operators.VectorOps.ivfPqModelSampled]]; seeding, encoding,
    * and the query tables always run over the FULL corpus slices, as the
    * engine. */
  private def pqChainsCteFrom(trainSrc: String): String = {
    val sub = EmbDims / PqM
    val dist = s"list_sum([(q.v[i]-c.cv[i])*(q.v[i]-c.cv[i]) for i in range(1, ${sub + 1})])"
    val sumCols = (1 to sub).map(i => s"SUM(v[$i]) AS s$i").mkString(", ")
    val centList = (1 to sub).map(i =>
      s"CAST(CASE WHEN s$i < 0 THEN -((2*(-s$i) + n) // (2*n)) ELSE (2*s$i + n) // (2*n) END AS BIGINT)")
      .mkString("[", ", ", "]")
    val chains = (0 until PqM).map { sp =>
      val off = sp * sub
      val trainCte =
        if (trainSrc == "q") ""
        else s"$trainSrc$sp AS (SELECT id, v[${off + 1}:${off + sub}] AS v FROM $trainSrc),\n"
      val iterCtes = (1 to PqIters).map { t =>
        s"""a${t}_$sp AS (SELECT id, v, cid FROM (
           |  SELECT id, v, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
           |  FROM (SELECT q.id, q.v, c.cid, $dist AS d FROM ${trainSrc}$sp q, c${t - 1}_$sp c)) WHERE rn = 1),
           |g${t}_$sp AS (SELECT cid, COUNT(*) AS n, $sumCols FROM a${t}_$sp GROUP BY cid),
           |c${t}_$sp AS (SELECT c.cid, CASE WHEN g.cid IS NULL THEN c.cv ELSE $centList END AS cv
           |  FROM c${t - 1}_$sp c LEFT JOIN g${t}_$sp g ON c.cid = g.cid)""".stripMargin
      }.mkString(",\n")
      s"""q$sp AS (SELECT id, v[${off + 1}:${off + sub}] AS v FROM q),
         |${trainCte}c0_$sp AS (SELECT id AS cid, v AS cv FROM q$sp WHERE id BETWEEN $KmCentLo AND $KmCentHi),
         |$iterCtes,
         |code$sp AS (SELECT id, cid FROM (
         |  SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
         |  FROM (SELECT q.id, c.cid, $dist AS d FROM q$sp q, c${PqIters}_$sp c)) WHERE rn = 1),
         |qd$sp AS (SELECT q.id AS qid, c.cid, $dist AS dist
         |  FROM q$sp q, c${PqIters}_$sp c WHERE q.id < 8)""".stripMargin
    }.mkString(",\n")
    chains
  }

  private lazy val pqChainsCte: String = pqChainsCteFrom("q")

  /** The trained-IVF probe/re-rank replay ending in the ranked CTE `r`
    * (qid, nid, rnk by sim desc), appended to any training-chain prefix
    * that yields `q` and `c$KmIters` — ONE copy of the search SQL shared
    * by the full-scan and sampled gates (the kmIterCtesFrom pattern). */
  private def ivfRankedCtesFrom(trainingCtes: String): String = {
    val cos = cosSql("a.v", "b.v")
    s"""$trainingCtes,
       |dists AS (SELECT q.id, c.cid, $kmDistSql AS d FROM q, c$KmIters c),
       |cells AS (SELECT id, cid FROM (
       |  SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
       |  FROM dists) WHERE rn = 1),
       |prob AS (SELECT id AS qid, cid FROM (
       |  SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
       |  FROM dists WHERE id < 8) WHERE rn <= $IvfProbes),
       |ev AS (SELECT vec_id, embedding AS v FROM embeddings),
       |cand AS (SELECT p.qid, cl.id AS nid FROM prob p JOIN cells cl USING (cid)
       |  WHERE cl.id != p.qid),
       |s AS (SELECT c.qid, c.nid, $cos AS sim
       |  FROM cand c JOIN ev a ON a.vec_id = c.qid JOIN ev b ON b.vec_id = c.nid),
       |r AS (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM s)""".stripMargin
  }

  /** The knn_ivf_kmeans replay chain ending in the ranked CTE `r`
    * (qid, nid, rnk by sim desc) — shared by the gate and ann_recall_ivf. */
  private lazy val ivfKmeansRankedCtes: String =
    ivfRankedCtesFrom(kmeansCteSql)

  /** The knn_pq replay chain ending in ranked CTE `r` (qid, nid, adc, rnk)
    * — shared by the gate and ann_recall_pq. */
  private lazy val pqRankedCtes: String = {
    val parts = (0 until PqM).map(sp =>
      s"SELECT cd.id AS nid, d.qid, d.dist FROM code$sp cd JOIN qd$sp d USING (cid)")
      .mkString("\n  UNION ALL\n  ")
    s"""$pqCteSql,
       |parts AS (
       |  $parts),
       |adc AS (SELECT qid, nid, SUM(dist) AS adc FROM parts GROUP BY 1, 2),
       |r AS (SELECT qid, nid, adc,
       |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS rnk
       |  FROM adc WHERE nid != qid)""".stripMargin
  }

  /** The knn_ivfpq replay chain ending in ranked CTE `r` (qid, nid, adc,
    * rnk) — shared by the gate and ann_recall_ivfpq; parameterized over
    * the coarse training chain and the PQ chains so the SAMPLED build
    * gates reuse one copy of the probe/ADC SQL (the ivfRankedCtesFrom
    * pattern). */
  private def ivfPqRankedCtesFrom(coarseCtes: String,
                                  chains: String): String = {
    val parts = (0 until PqM).map(sp =>
      s"""SELECT c.qid, c.nid, d.dist FROM cand c
         |    JOIN code$sp cd ON cd.id = c.nid
         |    JOIN qd$sp d ON d.cid = cd.cid AND d.qid = c.qid""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    s"""$coarseCtes,
       |$chains,
       |dists AS (SELECT q.id, c.cid, $kmDistSql AS d FROM q, c$KmIters c),
       |cells AS (SELECT id, cid FROM (
       |  SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
       |  FROM dists) WHERE rn = 1),
       |prob AS (SELECT id AS qid, cid FROM (
       |  SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
       |  FROM dists WHERE id < 8) WHERE rn <= $IvfProbes),
       |cand AS (SELECT p.qid, cl.id AS nid FROM prob p JOIN cells cl USING (cid)
       |  WHERE cl.id != p.qid),
       |parts AS (
       |  $parts),
       |adc AS (SELECT qid, nid, SUM(dist) AS adc FROM parts GROUP BY 1, 2),
       |r AS (SELECT qid, nid, adc, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS rnk FROM adc)""".stripMargin
  }

  private lazy val ivfPqRankedCtes: String =
    ivfPqRankedCtesFrom(kmeansCteSql, pqChainsCte)

  /** The knn_ivfpq_sampled replay: coarse chain trained from `qs` (the
    * ivfk-sampled CTEs) AND every PQ sub-chain trained from the `qs`
    * slices; assignment, encoding, probing, ADC over the full corpus. */
  private lazy val ivfPqSampledRankedCtes: String =
    ivfPqRankedCtesFrom(ivfkSampledCteSql, pqChainsCteFrom("qs"))

  /** Residual IVF+PQ replay ending in ranked `r` — the knn_ivfpq chain
    * with PQ trained/encoded on `v − centroid(cell(v))`: a residual
    * corpus frame `res`, residual sub-chains `rq/rc/rcode<sp>`, and the
    * per-(query, PROBED cell) residual tables `rqd<sp>` (a query's ADC
    * table differs per probed cell — the defining residual complication,
    * keyed by `pcid` all the way into the parts join). */
  private lazy val rIvfPqRankedCtes: String = {
    val sub = EmbDims / PqM
    val dist = s"list_sum([(q.v[i]-c.cv[i])*(q.v[i]-c.cv[i]) for i in range(1, ${sub + 1})])"
    val sumCols = (1 to sub).map(i => s"SUM(v[$i]) AS s$i").mkString(", ")
    val centList = (1 to sub).map(i =>
      s"CAST(CASE WHEN s$i < 0 THEN -((2*(-s$i) + n) // (2*n)) ELSE (2*s$i + n) // (2*n) END AS BIGINT)")
      .mkString("[", ", ", "]")
    val resList = s"[q.v[i] - cc.cv[i] for i in range(1, ${EmbDims + 1})]"
    val chains = (0 until PqM).map { sp =>
      val off = sp * sub
      val iterCtes = (1 to PqIters).map { t =>
        s"""ra${t}_$sp AS (SELECT id, v, cid FROM (
           |  SELECT id, v, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
           |  FROM (SELECT q.id, q.v, c.cid, $dist AS d FROM rq$sp q, rc${t - 1}_$sp c)) WHERE rn = 1),
           |rg${t}_$sp AS (SELECT cid, COUNT(*) AS n, $sumCols FROM ra${t}_$sp GROUP BY cid),
           |rc${t}_$sp AS (SELECT c.cid, CASE WHEN g.cid IS NULL THEN c.cv ELSE $centList END AS cv
           |  FROM rc${t - 1}_$sp c LEFT JOIN rg${t}_$sp g ON c.cid = g.cid)""".stripMargin
      }.mkString(",\n")
      s"""rq$sp AS (SELECT id, v[${off + 1}:${off + sub}] AS v FROM res),
         |rc0_$sp AS (SELECT id AS cid, v AS cv FROM rq$sp WHERE id BETWEEN $KmCentLo AND $KmCentHi),
         |$iterCtes,
         |rcode$sp AS (SELECT id, cid FROM (
         |  SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
         |  FROM (SELECT q.id, c.cid, $dist AS d FROM rq$sp q, rc${PqIters}_$sp c)) WHERE rn = 1),
         |rqd$sp AS (SELECT q.qid, q.pcid, c.cid, $dist AS dist
         |  FROM (SELECT qid, pcid, v[${off + 1}:${off + sub}] AS v FROM qres) q, rc${PqIters}_$sp c)""".stripMargin
    }.mkString(",\n")
    val parts = (0 until PqM).map(sp =>
      s"""SELECT c.qid, c.nid, d.dist FROM cand c
         |    JOIN rcode$sp cd ON cd.id = c.nid
         |    JOIN rqd$sp d ON d.cid = cd.cid AND d.qid = c.qid AND d.pcid = c.pcid""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    s"""$kmeansCteSql,
       |dists AS MATERIALIZED (SELECT q.id, c.cid, $kmDistSql AS d FROM q, c$KmIters c),
       |cells AS MATERIALIZED (SELECT id, cid FROM (
       |  SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
       |  FROM dists) WHERE rn = 1),
       |res AS MATERIALIZED (SELECT q.id, cl.cid, $resList AS v
       |  FROM q JOIN cells cl ON cl.id = q.id JOIN c$KmIters cc ON cc.cid = cl.cid),
       |prob AS MATERIALIZED (SELECT id AS qid, cid FROM (
       |  SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
       |  FROM dists WHERE id < 8) WHERE rn <= $IvfProbes),
       |qres AS MATERIALIZED (SELECT p.qid, p.cid AS pcid, $resList AS v
       |  FROM prob p JOIN q ON q.id = p.qid JOIN c$KmIters cc ON cc.cid = p.cid),
       |$chains,
       |cand AS (SELECT p.qid, p.cid AS pcid, cl.id AS nid FROM prob p JOIN cells cl USING (cid)
       |  WHERE cl.id != p.qid),
       |parts AS (
       |  $parts),
       |adc AS (SELECT qid, nid, SUM(dist) AS adc FROM parts GROUP BY 1, 2),
       |r AS (SELECT qid, nid, adc, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS rnk FROM adc)""".stripMargin
  }

  /** Exact-refine CTEs over a ranked chain ending in `r(qid, nid, rnk)`:
    * the ADC top-`RrCand` pool (`win`), the full-precision cosine scores
    * over the raw float vectors (`rrs`), and the refined ranking `rr`
    * with knn_brute's (sim desc, nid) order — the
    * [[graft.operators.VectorOps.knnIvfPqResidualRerank]] refine replay,
    * shared by the knn_ivfpq_rerank / ann_recall_ivfpq_rr oracles. */
  private lazy val rerankCtes: String = {
    val cos = cosSql("a.v", "b.v")
    s"""win AS (SELECT qid, nid FROM r WHERE rnk <= $RrCand),
       |rrev AS (SELECT vec_id, embedding AS v FROM embeddings),
       |rrs AS (SELECT w.qid, w.nid, $cos AS sim
       |  FROM win w JOIN rrev a ON a.vec_id = w.qid
       |  JOIN rrev b ON b.vec_id = w.nid),
       |rr AS (SELECT qid, nid,
       |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rrnk
       |  FROM rrs)""".stripMargin
  }

  /** The knn_ivfpq_rerank replay — shared verbatim by the
    * knn_ivfpq_rerank_from deploy twin (see the oracle-map comment). */
  private lazy val knnIvfPqRerankSql: String =
    s"""WITH $rIvfPqRankedCtes,
       |$rerankCtes
       |SELECT qid, nid, CAST(rrnk AS BIGINT) AS rnk FROM rr
       |WHERE rrnk <= 5""".stripMargin

  /** The ann_recall_ivfpq_rr replay — shared verbatim by the
    * ann_recall_ivfpq_rr_from deploy twin. */
  private lazy val annRecallIvfPqRrSql: String =
    s"""WITH $rIvfPqRankedCtes,
       |$rerankCtes,
       |mt AS (SELECT qid, nid FROM rr WHERE rrnk <= 5),
       |$bruteTopCtes
       |$recallSelectSql""".stripMargin

  /** The graph_components replay — shared verbatim by the
    * graph_components_from deploy twin (see the oracle-map comment). */
  private lazy val graphComponentsSql: String =
    s"""WITH RECURSIVE $knnGraphCtes,
       |ge AS (SELECT qid AS a, nid AS b FROM kg
       |  UNION ALL SELECT nid, qid FROM kg),
       |reach(id, r) AS (
       |  SELECT a, a FROM ge
       |  UNION
       |  SELECT re.id, e.b FROM reach re JOIN ge e ON e.a = re.r),
       |lbl AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
       |lblfull AS (SELECT v.vec_id, COALESCE(l.cluster, v.vec_id) AS cluster
       |  FROM embeddings v LEFT JOIN lbl l ON v.vec_id = l.id),
       |cs AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS sz FROM lblfull GROUP BY 1)
       |SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_components FROM cs GROUP BY 1""".stripMargin

  /** The semdedup replay — shared verbatim by the semdedup_from deploy
    * twin (see the oracle-map comment). */
  private lazy val semdedupSql: String = {
    val cos = cosSql("a.v", "b.v")
    s"""WITH RECURSIVE $kmeansCteSql,
       |cells AS (SELECT id, cid FROM (
       |  SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
       |  FROM (SELECT q.id, c.cid, $kmDistSql AS d FROM q, c$KmIters c)) WHERE rn = 1),
       |ev AS (SELECT vec_id, embedding AS v FROM embeddings),
       |pairs AS (SELECT x.id AS id_a, y.id AS id_b
       |  FROM cells x JOIN cells y ON x.cid = y.cid AND x.id < y.id
       |  JOIN ev a ON a.vec_id = x.id JOIN ev b ON b.vec_id = y.id
       |  WHERE $cos >= $SemMinCos),
       |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT re.id, e.b FROM reach re JOIN edges e ON e.a = re.r),
       |lbl AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
       |SELECT e2.vec_id, CAST(COALESCE(l.cluster, e2.vec_id) AS BIGINT) AS cluster
       |FROM embeddings e2 LEFT JOIN lbl l ON e2.vec_id = l.id""".stripMargin
  }

  /** Exact-cosine top-5 baseline CTEs (`bev`, `bs`, `bt`) — the knn_brute
    * replay at k=5, namespaced to compose beside any method chain. Shared
    * by the ann_recall_{ivf,pq,ivfpq} oracles. */
  private lazy val bruteTopCtes: String = {
    val cos = cosSql("q.v", "x.v")
    s"""bev AS (SELECT vec_id, embedding AS v FROM embeddings),
       |bs AS (SELECT q.vec_id AS qid, x.vec_id AS nid, $cos AS sim
       |  FROM bev q, bev x WHERE q.vec_id < 8 AND x.vec_id != q.vec_id),
       |bt AS (SELECT qid, nid FROM (
       |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM bs)
       |  WHERE rnk <= 5)""".stripMargin
  }

  /** The recall aggregation over `bt` (baseline) and `mt` (method top-5). */
  private val recallSelectSql: String =
    """SELECT bt.qid, CAST(COUNT(*) AS BIGINT) AS n_true,
      |  CAST(SUM(CASE WHEN mt.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |FROM bt LEFT JOIN mt ON bt.qid = mt.qid AND bt.nid = mt.nid
      |GROUP BY 1""".stripMargin

  /** BPE oracle: `BpeSteps` unrolled training rounds. Per round r: pair
    * explode `p<r>` (positions 1..len−1), overlap-inclusive counts `cnt<r>`,
    * winner `top<r>` (c desc, pair asc), greedy-kept occurrence starts
    * `k<r>` (runs of consecutive positions keep odd ranks — the window
    * parity that replaces the sequential fold), and the rebuilt word table
    * `w<r>` (kept starts take the merged symbol, their successors drop). */
  private val bpeCteSql: String = {
    // MATERIALIZED everywhere a CTE is referenced more than once: DuckDB
    // inlines CTEs by default, so the round chain would otherwise re-expand
    // ~2× per round — 2^BpeSteps scans of `documents` exhausts the fd limit
    // (the SQL-side twin of the Spark loop's localCheckpoint re-rooting).
    val rounds = (1 to BpeSteps).map { r =>
      s"""p$r AS MATERIALIZED (SELECT w, freq, syms, unnest(range(1, len(syms))) AS pos FROM w${r - 1}),
         |cnt$r AS (SELECT syms[pos] AS lhs, syms[pos+1] AS rhs, SUM(freq) AS c FROM p$r GROUP BY 1, 2),
         |top$r AS MATERIALIZED (SELECT lhs, rhs, c FROM cnt$r ORDER BY c DESC, lhs, rhs LIMIT 1),
         |occ$r AS (SELECT w, pos, ROW_NUMBER() OVER (PARTITION BY w, pos - rn ORDER BY pos) AS rn2
         |  FROM (SELECT p.w, p.pos, ROW_NUMBER() OVER (PARTITION BY p.w ORDER BY p.pos) AS rn
         |        FROM p$r p, top$r t WHERE p.syms[p.pos] = t.lhs AND p.syms[p.pos+1] = t.rhs)),
         |k$r AS MATERIALIZED (SELECT w, pos FROM occ$r WHERE rn2 % 2 = 1),
         |sy$r AS (SELECT w, freq, syms, unnest(range(1, len(syms) + 1)) AS pos FROM w${r - 1}),
         |w$r AS MATERIALIZED (SELECT s.w, s.freq, list(
         |    CASE WHEN k.pos IS NOT NULL THEN t.lhs || t.rhs ELSE s.syms[s.pos] END ORDER BY s.pos) AS syms
         |  FROM sy$r s
         |  LEFT JOIN k$r k ON s.w = k.w AND s.pos = k.pos
         |  LEFT JOIN k$r kd ON s.w = kd.w AND s.pos = kd.pos + 1
         |  LEFT JOIN top$r t ON TRUE
         |  WHERE kd.pos IS NULL
         |  GROUP BY s.w, s.freq)""".stripMargin
    }.mkString(",\n")
    val out = (1 to BpeSteps).map(r =>
      s"SELECT $r AS step, lhs, rhs, c FROM top$r").mkString("\n  UNION ALL\n  ")
    s"""w0 AS MATERIALIZED (SELECT w, freq, [w[i] for i in range(1, len(w) + 1)] AS syms
       |  FROM (SELECT tok AS w, COUNT(*) AS freq
       |        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |        WHERE len(tok) > 0 GROUP BY tok)),
       |$rounds,
       |merges AS (
       |  $out)""".stripMargin
  }

  /** Shared recursive-CTE replay of a shingle pair graph + component
    * collapse, parameterized by the pair predicate: yields
    * `lblfull(doc_id, cluster)` — every doc labeled with its cluster's
    * min id (singletons by their own id). Consumed by the dedup_clusters,
    * dedup_cluster_sizes, and dedup_containment_clusters oracles. */
  private def clusterCtes(pairWhere: String): String =
    s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (SELECT doc_id,
       |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS s
       |  FROM toks WHERE len(w) >= 3),
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE $pairWhere),
       |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT re.id, e.b FROM reach re JOIN edges e ON e.a = re.r),
       |lbl AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
       |lblfull AS (SELECT d.doc_id, CAST(COALESCE(l.cluster, d.doc_id) AS BIGINT) AS cluster
       |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.id)""".stripMargin

  private val nearDupClusterCtes: String = clusterCtes(
    "len(list_intersect(a.s, b.s)) * 2 >= len(list_distinct(list_concat(a.s, b.s)))")
}
