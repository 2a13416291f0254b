package graft.pipeline

import graft.QueryDef
import graft.QueryDef.{releaseCheckpoint, table}
import graft.functions.GraftFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, marker-based language ID, content fingerprinting.
  *
  * All are per-row, scan-local transforms — no shuffle, no driver
  * materialization; they scale linearly and run inside whole-stage
  * codegen (pure `functions._`) except the fingerprint, which is a
  * native Catalyst expression.
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "it")
  private val stopwordSqlList = stopwords.map(w => s"'$w'").mkString(", ")

  /** Word n-gram array over a token-array column (`ws`), optionally
    * md5-hashed per gram. Guarded for SHORT inputs: Spark's
    * `sequence(1, 0)` is DESCENDING ([1, 0] — step defaults to -1
    * when start > stop), so a sub-n-token document must produce an
    * empty array, never evaluate `slice(ws, 0, n)` (a runtime error).
    * Shared by the decontamination (ta11) and span-dedup (dd10)
    * operators; unit-covered against empty/short inputs.
    */
  def wordGrams(ws: String, n: Int,
      hashed: Boolean): org.apache.spark.sql.Column = {
    val gram = s"concat_ws(' ', slice($ws, i, $n))"
    expr(s"CASE WHEN size($ws) >= $n THEN " +
      s"transform(sequence(1, size($ws) - ${n - 1})," +
      s" i -> ${if (hashed) s"md5($gram)" else gram}) " +
      "ELSE array() END")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ta01_token_count",
      (s, d) =>
        table(s, d, "documents")
          .select(
            col("doc_id"),
            length(col("text")).as("n_chars_measured"),
            size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"),
            size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
              .as("n_re_tokens"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, length(text) AS n_chars_measured,
             |       len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
             |       len(regexp_extract_all(text, '[a-z0-9]+')) AS n_re_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "ta02_quality_score",
      (s, d) =>
        table(s, d, "documents")
          .withColumn("toks", split(trim(col("text")), "\\s+"))
          .withColumn("n_tokens", size(col("toks")))
          .withColumn("n_uniq", size(array_distinct(col("toks"))))
          .withColumn("n_stop",
            size(expr(s"filter(toks, t -> t IN ($stopwordSqlList))")))
          .select(
            col("doc_id"),
            col("n_tokens"),
            round(col("n_uniq").cast("double") / col("n_tokens"), 4)
              .as("type_token_ratio"),
            round((length(regexp_replace(col("text"), "\\s+", "")).cast("double"))
              / col("n_tokens"), 4).as("avg_token_len"),
            round(col("n_stop").cast("double") / col("n_tokens"), 4)
              .as("stopword_ratio"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, n_tokens,
              |       round(n_uniq::DOUBLE / n_tokens, 4) AS type_token_ratio,
              |       round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / n_tokens, 4) AS avg_token_len,
              |       round(n_stop::DOUBLE / n_tokens, 4) AS stopword_ratio
              |FROM (
              |  SELECT doc_id, text,
              |         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
              |         len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS n_uniq,
              |         len(list_filter(string_split_regex(trim(text), '\\s+'),
              |                         t -> t IN ($stopwordSqlList))) AS n_stop
              |  FROM documents
              |) ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "ta03_langid_markers",
      (s, d) =>
        // Marker-word language scoring (n-gram-heuristic family): count
        // hits per language marker set, argmax with a fixed tie-break.
        // The synthetic corpus is English-ish so 'en' dominates; the
        // operator's contract (deterministic scoring) is what is graded.
        table(s, d, "documents")
          .withColumn("toks", split(trim(col("text")), "\\s+"))
          .withColumn("score_en",
            size(expr("filter(toks, t -> t IN ('the', 'a', 'of', 'and'))")))
          .withColumn("score_de",
            size(expr("filter(toks, t -> t IN ('der', 'die', 'und', 'ist'))")))
          .withColumn("score_fr",
            size(expr("filter(toks, t -> t IN ('le', 'la', 'et', 'est'))")))
          .withColumn("score_es",
            size(expr("filter(toks, t -> t IN ('el', 'los', 'que', 'es'))")))
          .select(
            col("doc_id"),
            when(col("score_en") >= greatest(col("score_de"), col("score_fr"), col("score_es")), "en")
              .when(col("score_de") >= greatest(col("score_fr"), col("score_es")), "de")
              .when(col("score_fr") >= col("score_es"), "fr")
              .otherwise("es").as("pred_lang"),
            col("score_en"), col("lang").as("labeled_lang"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |       CASE WHEN score_en >= greatest(score_de, score_fr, score_es) THEN 'en'
             |            WHEN score_de >= greatest(score_fr, score_es) THEN 'de'
             |            WHEN score_fr >= score_es THEN 'fr'
             |            ELSE 'es' END AS pred_lang,
             |       score_en, lang AS labeled_lang
             |FROM (
             |  SELECT doc_id, lang,
             |         len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('the', 'a', 'of', 'and'))) AS score_en,
             |         len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('der', 'die', 'und', 'ist'))) AS score_de,
             |         len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('le', 'la', 'et', 'est'))) AS score_fr,
             |         len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ('el', 'los', 'que', 'es'))) AS score_es
             |  FROM documents
             |) ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "ta04_fingerprint",
      (s, d) => {
        GraftFunctions.register(s)
        table(s, d, "documents")
          .select(
            col("doc_id"),
            GraftFunctions.fingerprint64(col("text")).as("fingerprint"),
            GraftFunctions.simhash64(col("text")).as("simhash"))
          .orderBy("doc_id")
      },
      None), // native winnowing fingerprint — not DuckDB-expressible;
             // graded by the ta08 gate below (dd08 pattern)

    QueryDef(
      "ta08_fingerprint_gate",
      (s, d) => {
        // Closed-form grade for the native winnowing fingerprint (the
        // dd08/mm04 pattern for ops DuckDB can't recompute): the
        // fingerprint must be a FUNCTION of the text (equal texts ⇒
        // equal fingerprints — a nondeterministic or row-dependent
        // implementation fails) and DISCRIMINATIVE (≥95% of distinct
        // texts get distinct fingerprints — a degenerate
        // constant-output implementation fails). The floor is NOT
        // 100%: the corpus plants near-duplicate documents (the dedup
        // family's ground truth, ~2% of rows at every sf), and
        // winnowing collides on those by design — equal fingerprints ⇒
        // high content overlap. The oracle states the expected
        // verdicts in closed form.
        GraftFunctions.register(s)
        val fp = table(s, d, "documents")
          .select(col("text"),
            GraftFunctions.fingerprint64(col("text")).as("fp"))
        fp.agg(
          countDistinct(col("text")).as("n_texts"),
          (countDistinct(col("text"), col("fp")) ===
            countDistinct(col("text"))).as("deterministic"),
          (countDistinct(col("fp")).cast("double") >=
            countDistinct(col("text")).cast("double") * 0.95)
            .as("discriminative"))
      },
      Some("""SELECT count(DISTINCT text) AS n_texts,
             |       true AS deterministic, true AS discriminative
             |FROM documents""".stripMargin)),

    QueryDef(
      "ta06_normalize",
      (s, d) =>
        // Text normalization for training corpora: redact URLs and
        // emails, collapse whitespace, lowercase — per-row regexp
        // chain, scan-local, whole-stage codegen (no UDF).
        table(s, d, "documents")
          .withColumn("norm",
            lower(regexp_replace(regexp_replace(regexp_replace(
              col("text"),
              "https?://[^\\s]+", "<url>"),
              "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<email>"),
              "\\s+", " ")))
          .select(
            col("doc_id"),
            length(col("norm")).as("norm_len"),
            (length(col("norm"))
              - length(regexp_replace(col("norm"), "<url>", "")))
              .divide(5).cast("int").as("n_urls"),
            substring(col("norm"), 1, 40).as("norm_prefix"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, length(norm) AS norm_len,
             |       CAST((length(norm) - length(replace(norm, '<url>', ''))) / 5 AS INT) AS n_urls,
             |       substr(norm, 1, 40) AS norm_prefix
             |FROM (
             |  SELECT doc_id,
             |         lower(regexp_replace(regexp_replace(regexp_replace(text,
             |           'https?://[^\s]+', '<url>', 'g'),
             |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<email>', 'g'),
             |           '\s+', ' ', 'g')) AS norm
             |  FROM documents
             |) ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "ta07_c4_filters",
      (s, d) =>
        // C4-style quality gating: token-count window, mean token
        // length bound, no braces (code leak-in), bounded repetition
        // (type/token ratio) — the keep/drop decision per document
        // plus corpus-level acceptance counts. All per-row predicates;
        // the filter rides the scan at any corpus size.
        table(s, d, "documents")
          .withColumn("toks", split(trim(col("text")), "\\s+"))
          .withColumn("n_tok", size(col("toks")))
          .withColumn("ttr",
            size(array_distinct(col("toks"))).cast("double") / col("n_tok"))
          .withColumn("avg_len",
            length(regexp_replace(col("text"), "\\s+", "")).cast("double")
              / col("n_tok"))
          .withColumn("keep",
            col("n_tok").between(20, 2000) &&
              col("avg_len") < lit(12.0) &&
              !col("text").contains("{") &&
              col("ttr") > lit(0.2))
          .groupBy("lang", "keep")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
          .orderBy("lang", "keep"),
      Some("""SELECT lang, keep, count(*) AS n_docs,
             |       CAST(sum(n_tok) AS BIGINT) AS n_tokens
             |FROM (
             |  SELECT lang, n_tok,
             |         (n_tok BETWEEN 20 AND 2000)
             |           AND avg_len < 12.0
             |           AND NOT contains(text, '{')
             |           AND ttr > 0.2 AS keep
             |  FROM (
             |    SELECT lang, text,
             |           len(string_split_regex(trim(text), '\s+')) AS n_tok,
             |           len(list_distinct(string_split_regex(trim(text), '\s+')))::DOUBLE
             |             / len(string_split_regex(trim(text), '\s+')) AS ttr,
             |           length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
             |             / len(string_split_regex(trim(text), '\s+')) AS avg_len
             |    FROM documents)
             |)
             |GROUP BY lang, keep ORDER BY lang, keep""".stripMargin)),

    QueryDef(
      "ta05_langid_trigram",
      (s, d) => {
        // character-trigram profile language ID (Cavnar–Trenkle-style)
        // as a native expression; the synthetic corpus is English word
        // soup so 'en' should dominate regardless of the random label.
        GraftFunctions.register(s)
        table(s, d, "documents")
          .withColumn("pred", GraftFunctions.langIdTrigram(col("text")))
          .groupBy("pred")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("pred")
      },
      None), // distribution over a synthetic English-soup corpus — the
             // operator itself is graded by the ta09 known-answer gate

    QueryDef(
      "ta09_langid_gate",
      (s, d) => {
        // Known-answer grade for the trigram language ID (the gate
        // pattern for ops the synthetic corpus cannot validate: the
        // documents table is English word soup with planted marker
        // WORDS, so trigram PROFILES are near-chance against its
        // labels — ta03's marker scorer is the corpus-appropriate
        // method). Real sentences in each profiled language must
        // classify correctly; the oracle states the expected
        // (lang, pred) pairs in closed form.
        GraftFunctions.register(s)
        import s.implicits._
        Seq(
          ("en", "the history of the kingdom is that the thing was " +
            "found in the thick of the woods and nothing was the same"),
          ("de", "ich dachte das ist ein schönes geschenk und die " +
            "kirche ist nicht schlecht der junge und das mädchen " +
            "sind durch die schule"),
          ("fr", "le jour que la dame est dans le parc une femme et " +
            "le garçon parlent de la pluie et du beau temps dans le " +
            "quartier"),
          ("es", "el perro está en la casa y el niño come una manzana " +
            "con el abuelo porque los dos están contentos en el parque"))
          .toDF("lang", "sample")
          .select(col("lang"),
            GraftFunctions.langIdTrigram(col("sample")).as("pred"))
          .orderBy("lang")
      },
      Some("""SELECT * FROM (VALUES ('de', 'de'), ('en', 'en'),
             |  ('es', 'es'), ('fr', 'fr')) AS t(lang, pred)
             |ORDER BY lang""".stripMargin)),

    QueryDef(
      "ta10_top_word_ratio",
      (s, d) => {
        // Gopher-class repetition filter: a document whose single most
        // frequent word exceeds 12% of its tokens is flagged
        // repetitive. Two hash aggregations — (doc, word) then (doc) —
        // both with map-side partial aggregation, so the wire carries
        // per-partition partial counts, never the exploded token
        // stream; the standard corpus-hygiene pass before training.
        val words = table(s, d, "documents")
          .select(col("doc_id"), col("source"),
            explode(split(trim(col("text")), "\\s+")).as("word"))
        words.groupBy("doc_id", "source", "word")
          .agg(count(lit(1)).as("c"))
          .groupBy("doc_id", "source")
          .agg(max("c").as("top"), sum("c").as("tot"))
          .withColumn("ratio",
            col("top").cast("double") / col("tot").cast("double"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("ratio") > 0.12, 1L).otherwise(0L))
              .as("n_repetitive"),
            round(avg(col("ratio")), 4).as("avg_top_ratio"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             |       CAST(sum(CASE WHEN ratio > 0.12 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_repetitive,
             |       round(avg(ratio), 4) AS avg_top_ratio
             |FROM (
             |  SELECT doc_id, source,
             |         CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
             |           AS ratio
             |  FROM (
             |    SELECT doc_id, source, word, count(*) AS c FROM (
             |      SELECT doc_id, source,
             |             unnest(string_split_regex(trim(text), '\s+'))
             |               AS word
             |      FROM documents)
             |    GROUP BY doc_id, source, word)
             |  GROUP BY doc_id, source)
             |GROUP BY source ORDER BY source""".stripMargin)),

    QueryDef(
      "ta11_decontaminate",
      (s, d) => {
        // Benchmark decontamination: flag corpus documents sharing any
        // word 4-gram with a held-out "benchmark" set (here: doc_id <
        // 5 stand in for an eval suite). The benchmark's distinct
        // gram set is BROADCAST — eval suites are tiny against a
        // 100 TB corpus, so the scan side never shuffles; the corpus
        // grams stream map-side into the broadcast hash join and only
        // matches reach the aggregation. The standard leakage check
        // before training.
        val w = table(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            split(trim(col("text")), "\\s+").as("ws"))
        val grams = w.select(col("doc_id"), col("lang"),
          explode(wordGrams("ws", 4, hashed = false)).as("gram"))
        val bench = grams.filter(col("doc_id") < 5)
          .select("gram").distinct()
        grams.filter(col("doc_id") >= 5)
          .join(broadcast(bench), "gram")
          .groupBy("lang")
          .agg(countDistinct("doc_id").as("n_contaminated"),
            countDistinct("gram").as("n_overlap_grams"))
          .orderBy("lang")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, lang,
             |         string_split_regex(trim(text), '\s+') AS ws
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, lang,
             |         array_to_string(ws[u.i:u.i+3], ' ') AS gram
             |  FROM w, unnest(range(1, greatest(len(ws) - 3, 0) + 1)) u(i)),
             |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 5),
             |dg AS (SELECT doc_id, lang, gram FROM g WHERE doc_id >= 5)
             |SELECT lang,
             |       count(DISTINCT doc_id) AS n_contaminated,
             |       count(DISTINCT gram) AS n_overlap_grams
             |FROM dg JOIN bg USING (gram)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef(
      "ta12_bigram_heavy_hitters",
      (s, d) => {
        // Corpus-statistics heavy hitters: the global top-20 word
        // bigrams by count — the profile a dataset card reports and a
        // quality pass watches for template contamination. One hash
        // aggregation with map-side partial combine over the exploded
        // bigram stream, then a TakeOrdered top-k (per-partition
        // heads merged on the driver, never a global sort of the
        // vocabulary). Shares [[wordGrams]]'s short-input guard.
        val w = table(s, d, "documents")
          .select(split(trim(col("text")), "\\s+").as("ws"))
        w.select(explode(wordGrams("ws", 2, hashed = false)).as("bigram"))
          .groupBy("bigram")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram"))
          .limit(20)
      },
      Some("""WITH w AS (
             |  SELECT string_split_regex(trim(text), '\s+') AS ws
             |  FROM documents),
             |bg AS (
             |  SELECT array_to_string(ws[u.i:u.i+1], ' ') AS bigram
             |  FROM w, unnest(range(1, greatest(len(ws) - 1, 0) + 1)) u(i))
             |SELECT bigram, count(*) AS n FROM bg
             |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20"""
        .stripMargin)),

    QueryDef(
      "ta13_vocab_coverage",
      (s, d) => {
        // Zipf coverage per language: the share of all tokens covered
        // by the top-10 vocabulary — the statistic that sizes a
        // tokenizer's vocab and flags synthetic/templated corpora
        // (coverage near 1 with a tiny vocab). Word counts are one
        // map-side-combined aggregation; the per-language top-k is
        // TWO-PHASE (per-partition heads, then a merge over ≤ P·k
        // rows per language) so no language funnels its whole
        // vocabulary through one reducer.
        val wc = table(s, d, "documents")
          .select(col("lang"),
            explode(split(trim(col("text")), "\\s+")).as("word"))
          .groupBy("lang", "word")
          .agg(count(lit(1)).as("c"))
        val local = Window.partitionBy("lang", "pid")
          .orderBy(col("c").desc, col("word"))
        val global = Window.partitionBy("lang")
          .orderBy(col("c").desc, col("word"))
        val top = wc
          .withColumn("pid", spark_partition_id())
          .withColumn("lr", row_number().over(local))
          .filter(col("lr") <= 10)
          .withColumn("r", row_number().over(global))
          .filter(col("r") <= 10)
        val totals = wc.groupBy("lang").agg(sum("c").as("total_tokens"))
        totals.join(top.groupBy("lang").agg(sum("c").as("top_c")), "lang")
          .select(col("lang"), col("total_tokens"),
            round(col("top_c").cast("double") /
              col("total_tokens").cast("double"), 4).as("coverage"))
          .orderBy("lang")
      },
      Some("""WITH words AS (
             |  SELECT lang, unnest(string_split_regex(trim(text), '\s+'))
             |           AS word
             |  FROM documents),
             |wc AS (SELECT lang, word, count(*) AS c FROM words
             |       GROUP BY lang, word),
             |ranked AS (
             |  SELECT lang, c, row_number() OVER (
             |    PARTITION BY lang ORDER BY c DESC, word) AS r
             |  FROM wc)
             |SELECT lang, CAST(sum(c) AS BIGINT) AS total_tokens,
             |       round(CAST(sum(CASE WHEN r <= 10 THEN c END) AS DOUBLE)
             |             / CAST(sum(c) AS DOUBLE), 4) AS coverage
             |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef(
      "ta14_unigram_logprob",
      (s, d) => {
        // CCNet-style unigram LM scoring: each document's mean
        // log10-probability under the corpus's own unigram
        // distribution — the "perplexity filter" signal that ranks
        // fluent text above word salad and near-empty boilerplate.
        // Per-doc word counts pre-aggregate BEFORE the frequency join
        // (each doc contributes each word once), which both shrinks
        // the join input and defuses stopword skew — the hot "the"
        // key joins once per document, not once per occurrence. The
        // vocabulary total is a single scalar aggregate; at 100 TB the
        // join shuffles on uniformly-hashed words with AQE skew-join
        // as the backstop.
        val wdoc = table(s, d, "documents")
          .select(col("doc_id"),
            explode(split(trim(col("text")), "\\s+")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy("doc_id", "w")
          .agg(count(lit(1)).as("k"))
        val freq = wdoc.groupBy("w").agg(sum("k").as("c"))
        val total = freq.agg(sum("c")).head.getLong(0).toDouble
        // cross-engine determinism (the ta17/sp07 recipe): each term's
        // log10 rounds to 6dp and quantizes to DECIMAL so the weighted
        // sum is EXACT and engine-identical; one double division +
        // round(4) at the end can't drift
        wdoc.join(freq, "w")
          .groupBy("doc_id")
          .agg(sum("k").as("n_words"),
            round(
              sum(col("k") *
                round(log10(col("c").cast("double") / lit(total)), 6)
                  .cast("decimal(18,6)")).cast("double") /
                sum("k").cast("double"), 4).as("logprob"))
          .orderBy("doc_id")
      },
      Some("""WITH words AS (
             |  SELECT doc_id,
             |         unnest(string_split_regex(trim(text), '\s+')) AS w
             |  FROM documents),
             |w2 AS (SELECT doc_id, w FROM words WHERE length(w) > 0),
             |freq AS (SELECT w, count(*) AS c FROM w2 GROUP BY w),
             |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq)
             |SELECT doc_id, count(*) AS n_words,
             |       round(CAST(sum(CAST(round(log10(CAST(c AS DOUBLE) / n), 6)
             |                          AS DECIMAL(18,6))) AS DOUBLE)
             |             / CAST(count(*) AS DOUBLE), 4) AS logprob
             |FROM w2 JOIN freq USING (w), tot
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "ta15_pii_redact",
      (s, d) => {
        // PII scrubbing: regex redaction of emails / phone numbers /
        // IPv4s into typed placeholder tokens — the pre-training
        // compliance pass. The driver corpus carries no PII, so each
        // doc first gets DETERMINISTIC synthetic PII derived from its
        // doc_id (both engines build the identical augmented text);
        // redaction then grades real transforms: per-kind match
        // counts plus the md5 of the redacted text. Scan-local,
        // whole-stage-codegen regex — no shuffle, no UDF.
        val email = "[A-Za-z0-9.+_-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\+1-555-[0-9]{4}"
        val ip = "10\\.0\\.[0-9]{1,3}\\.[0-9]{1,3}"
        val aug = table(s, d, "documents")
          .withColumn("aug", concat(
            col("text"),
            when(col("doc_id") % 2 === 0,
              concat(lit(" mail user"), col("doc_id").cast("string"),
                lit("@example.com"))).otherwise(lit("")),
            when(col("doc_id") % 3 === 0,
              concat(lit(" call +1-555-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
              .otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              concat(lit(" host 10.0."),
                (col("doc_id") % 256).cast("string"), lit("."),
                expr("(doc_id div 256) % 256").cast("string")))
              .otherwise(lit(""))))
        aug
          .withColumn("red",
            regexp_replace(
              regexp_replace(
                regexp_replace(col("aug"), email, "<EMAIL>"),
                phone, "<PHONE>"),
              ip, "<IP>"))
          .select(col("doc_id"),
            regexp_count(col("aug"), lit(email)).as("n_email"),
            regexp_count(col("aug"), lit(phone)).as("n_phone"),
            regexp_count(col("aug"), lit(ip)).as("n_ip"),
            md5(col("red")).as("red_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (
             |  SELECT doc_id, text ||
             |    CASE WHEN doc_id % 2 = 0 THEN ' mail user' ||
             |      CAST(doc_id AS VARCHAR) || '@example.com'
             |      ELSE '' END ||
             |    CASE WHEN doc_id % 3 = 0 THEN ' call +1-555-' ||
             |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             |      ELSE '' END ||
             |    CASE WHEN doc_id % 5 = 0 THEN ' host 10.0.' ||
             |      CAST(doc_id % 256 AS VARCHAR) || '.' ||
             |      CAST((doc_id // 256) % 256 AS VARCHAR)
             |      ELSE '' END AS aug
             |  FROM documents),
             |red AS (
             |  SELECT doc_id, aug,
             |    regexp_replace(regexp_replace(regexp_replace(aug,
             |      '[A-Za-z0-9.+_-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             |      '<EMAIL>', 'g'),
             |      '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
             |      '10\.0\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS red
             |  FROM aug)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(aug,
             |    '[A-Za-z0-9.+_-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
             |    AS n_email,
             |  CAST(len(regexp_extract_all(aug,
             |    '\+1-555-[0-9]{4}')) AS INT) AS n_phone,
             |  CAST(len(regexp_extract_all(aug,
             |    '10\.0\.[0-9]{1,3}\.[0-9]{1,3}')) AS INT) AS n_ip,
             |  md5(red) AS red_md5
             |FROM red ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "ta16_dup_ngram_fraction",
      (s, d) => {
        // Gopher-style repetition filter (Rae et al. 2021 §A1.1,
        // "duplicate n-grams"): per document, the fraction of 5-gram
        // occurrences that are repeats of an earlier 5-gram —
        // (count − distinct) / count. Templated/looping text scores
        // high and gets filtered before training. One exploded-gram
        // aggregation: count is map-side combined; the distinct rides
        // Spark's partial-distinct rewrite, both keyed by doc_id, so
        // the corpus scan shuffles once on a uniform key. Short docs
        // (< 5 words) have no 5-grams and are excluded (no 0/0).
        val w = table(s, d, "documents")
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
        w.select(col("doc_id"),
            explode(wordGrams("ws", 5, hashed = false)).as("gram"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            countDistinct("gram").as("n_distinct"))
          .select(col("doc_id"), col("n_grams"),
            round((col("n_grams") - col("n_distinct")).cast("double") /
              col("n_grams").cast("double"), 4).as("dup5_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, array_to_string(ws[u.i:u.i+4], ' ') AS gram
             |  FROM w, unnest(range(1, greatest(len(ws) - 4, 0) + 1)) u(i)),
             |a AS (
             |  SELECT doc_id, count(*) AS n_grams,
             |         count(DISTINCT gram) AS n_distinct
             |  FROM g GROUP BY 1)
             |SELECT doc_id, n_grams,
             |       round((n_grams - n_distinct) / CAST(n_grams AS DOUBLE), 4)
             |         AS dup5_frac
             |FROM a ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "ta17_char_entropy",
      (s, d) => {
        // Character-level Shannon entropy per document (bits/char) —
        // the classic gibberish/boilerplate screen: binary blobs and
        // base64 spill score near log2(alphabet), "aaaa…" loops score
        // near 0, natural language sits ~3.5–4.5. Computed as
        // H = ln N − (Σ n_c·ln n_c)/N over per-character counts: two
        // hash aggregations keyed (doc_id, char) then doc_id, both
        // map-side combined, per-doc state bounded by the alphabet —
        // scales linearly with no driver work. Cross-engine
        // determinism: each n·ln n term rounds to 6dp and sums as
        // exact DECIMAL so libm ulp and reduction order can't move
        // the 4dp output (the sp07 recipe).
        val chars = table(s, d, "documents")
          .select(col("doc_id"), trim(col("text")).as("t"))
          // same short-input guard as [[wordGrams]]: sequence(1, 0) is
          // DESCENDING in Spark, so empty text must yield array(), not
          // two phantom rows
          .select(col("doc_id"), explode(expr(
            "CASE WHEN length(t) > 0 THEN " +
              "transform(sequence(1, length(t)), i -> substring(t, i, 1)) " +
              "ELSE array() END")).as("c"))
        chars.groupBy("doc_id", "c")
          .agg(count(lit(1)).as("n"))
          .groupBy("doc_id")
          .agg(sum("n").as("n_chars"),
            sum(round(col("n").cast("double") * log(col("n")), 6)
              .cast("decimal(18,6)")).as("sterm"))
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
            round((round(log(col("n_chars")), 6) -
              col("sterm").cast("double") / col("n_chars").cast("double")) /
              lit(0.6931471805599453), 4).as("char_entropy"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, trim(text) AS t FROM documents),
             |c AS (SELECT doc_id, substr(t, u.i, 1) AS c
             |      FROM t, unnest(range(1, length(t) + 1)) u(i)),
             |a AS (SELECT doc_id, c, count(*) AS n FROM c GROUP BY 1, 2),
             |s AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars,
             |             sum(CAST(round(n * ln(n), 6) AS DECIMAL(18,6)))
             |               AS sterm
             |      FROM a GROUP BY 1)
             |SELECT doc_id, n_chars,
             |       round((round(ln(n_chars), 6) -
             |              CAST(sterm AS DOUBLE) / n_chars)
             |             / 0.6931471805599453, 4) AS char_entropy
             |FROM s ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "ta18_gopher_quality",
      (s, d) => {
        // Composite Gopher quality verdict (Rae et al. 2021 §A1.1):
        // the five content rules a pretraining pipeline applies as ONE
        // pass — word count in [50, 100k], mean word length in [3, 10],
        // '#'/'…' symbol-to-word ratio ≤ 0.1, ≥ 80% of words carry an
        // alphabetic character, ≥ 2 distinct-position stopword hits —
        // plus the conjunction (`keep`). Everything is computed with
        // array higher-order functions ON THE SCAN (no explode, no
        // shuffle, no UDF): at 100 TB this is a single codegen'd
        // projection, and the repetition rules it composes with
        // (ta10/ta16) are the only passes that aggregate.
        val t = table(s, d, "documents")
          .select(col("doc_id"), col("text"),
            split(trim(col("text")), "\\s+").as("ws"))
          .select(col("doc_id"), col("text"), col("ws"),
            size(col("ws")).as("n_words"),
            expr("aggregate(ws, 0L, (a, w) -> a + length(w))").as("tot_len"),
            expr("size(filter(ws, w -> w rlike '[A-Za-z]'))").as("n_alpha"),
            expr(s"size(filter(ws, w -> lower(w) IN ($stopwordSqlList)))")
              .as("n_stop"),
            ((length(col("text")) -
              length(regexp_replace(col("text"), "#", ""))) +
              (length(col("text")) -
                length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3)
              .as("n_sym"))
        t.select(col("doc_id"), col("n_words"),
            col("n_words").between(50, 100000).as("wc_ok"),
            (col("tot_len").cast("double") / col("n_words"))
              .between(3.0, 10.0).as("mwl_ok"),
            (col("n_sym").cast("double") / col("n_words") <= 0.1)
              .as("sym_ok"),
            (col("n_alpha").cast("double") / col("n_words") >= 0.8)
              .as("alpha_ok"),
            (col("n_stop") >= 2).as("stop_ok"))
          .withColumn("keep",
            col("wc_ok") && col("mwl_ok") && col("sym_ok") &&
              col("alpha_ok") && col("stop_ok"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (
             |  SELECT doc_id, text,
             |         string_split_regex(trim(text), '\\s+') AS ws
             |  FROM documents),
             |m AS (
             |  SELECT doc_id, len(ws) AS n_words,
             |         list_sum(list_transform(ws, w -> length(w))) AS tot_len,
             |         len(list_filter(ws,
             |             w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
             |         len(list_filter(ws,
             |             w -> lower(w) IN ($stopwordSqlList))) AS n_stop,
             |         (length(text) - length(replace(text, '#', '')))
             |         + (length(text) - length(replace(text, '...', ''))) / 3
             |           AS n_sym
             |  FROM t)
             |SELECT doc_id, n_words,
             |       n_words BETWEEN 50 AND 100000 AS wc_ok,
             |       CAST(tot_len AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0
             |         AS mwl_ok,
             |       CAST(n_sym AS DOUBLE) / n_words <= 0.1 AS sym_ok,
             |       CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AS alpha_ok,
             |       n_stop >= 2 AS stop_ok,
             |       (n_words BETWEEN 50 AND 100000)
             |       AND (CAST(tot_len AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0)
             |       AND (CAST(n_sym AS DOUBLE) / n_words <= 0.1)
             |       AND (CAST(n_alpha AS DOUBLE) / n_words >= 0.8)
             |       AND (n_stop >= 2) AS keep
             |FROM m ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "ta19_tfidf_keywords",
      (s, d) => {
        // TF-IDF keyword extraction: each document's top-3 terms by
        // tf·ln(N/df) — the standard content-tagging/retrieval-feature
        // pass. Two map-side-combined aggregations build the
        // term-frequency (keyed doc_id,word — uniform) and
        // document-frequency (keyed word) tables; they join BY WORD
        // (a vocabulary-keyed hash join — at 100 TB the vocabulary is
        // Zipf-bounded and far smaller than the corpus, but NOT
        // broadcast-assumed), then a per-doc window takes the top 3
        // (per-partition state bounded by one doc's vocabulary).
        // Determinism: idf rounds to 6dp and multiplies an integer tf
        // (exact DECIMAL), ties break on the word, so ranks can't
        // drift between engines.
        val words = table(s, d, "documents")
          .select(col("doc_id"),
            explode(split(trim(col("text")), "\\s+")).as("word"))
        val tf = words.groupBy("doc_id", "word")
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
        val nDocs = broadcast(
          table(s, d, "documents").agg(count(lit(1)).as("__n")))
        val scored = tf.join(df, "word").crossJoin(nDocs)
          .withColumn("idf",
            round(log(col("__n").cast("double") / col("df")), 6)
              .cast("decimal(18,6)"))
          .withColumn("score", col("tf") * col("idf"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("word"))
        scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("word"),
            round(col("score").cast("double"), 4).as("tfidf"))
          .orderBy("doc_id", "rnk")
      },
      Some("""WITH words AS (
             |  SELECT doc_id,
             |         unnest(string_split_regex(trim(text), '\s+')) AS word
             |  FROM documents),
             |tf AS (SELECT doc_id, word, count(*) AS tf
             |       FROM words GROUP BY 1, 2),
             |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
             |scored AS (
             |  SELECT tf.doc_id, tf.word,
             |         tf.tf * CAST(round(ln(
             |             CAST((SELECT count(*) FROM documents) AS DOUBLE)
             |             / df.df), 6) AS DECIMAL(18,6)) AS score
             |  FROM tf JOIN df ON tf.word = df.word),
             |ranked AS (
             |  SELECT doc_id, word, score,
             |         row_number() OVER (PARTITION BY doc_id
             |                            ORDER BY score DESC, word) AS rnk
             |  FROM scored)
             |SELECT doc_id, rnk, word,
             |       round(CAST(score AS DOUBLE), 4) AS tfidf
             |FROM ranked WHERE rnk <= 3
             |ORDER BY doc_id, rnk""".stripMargin)),

    QueryDef(
      "ta20_ccnet_bucket",
      (s, d) => {
        // CCNet's head/middle/tail split: per language, rank documents
        // by their unigram-LM score (ta14) and cut into terciles —
        // bucket 1 ("head") is the most-fluent third that CCNet keeps
        // for pretraining, 3 ("tail") the most-likely-junk third. The
        // rank order (logprob DESC, doc_id) is total, so the tercile
        // boundary is engine-identical; the window rides one shuffle
        // over the metadata-sized per-doc score frame, not the corpus.
        val scores = defs.find(_.name == "ta14_unigram_logprob").get.fn(s, d)
          .select(col("doc_id"), col("logprob"))
        val langs = table(s, d, "documents").select("doc_id", "lang")
        val w = Window.partitionBy("lang")
          .orderBy(col("logprob").desc, col("doc_id"))
        scores.join(langs, "doc_id")
          .withColumn("bucket", ntile(3).over(w).cast("bigint"))
          .groupBy("lang", "bucket")
          .agg(count(lit(1)).as("n_docs"),
            min(col("logprob")).as("lp_min"),
            max(col("logprob")).as("lp_max"))
          .orderBy("lang", "bucket")
      },
      Some("""WITH words AS (
             |  SELECT doc_id,
             |         unnest(string_split_regex(trim(text), '\s+')) AS w
             |  FROM documents),
             |w2 AS (SELECT doc_id, w FROM words WHERE length(w) > 0),
             |freq AS (SELECT w, count(*) AS c FROM w2 GROUP BY w),
             |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq),
             |scores AS (
             |  SELECT doc_id,
             |         round(CAST(sum(CAST(round(log10(CAST(c AS DOUBLE) / n), 6)
             |                            AS DECIMAL(18,6))) AS DOUBLE)
             |               / CAST(count(*) AS DOUBLE), 4) AS logprob
             |  FROM w2 JOIN freq USING (w), tot
             |  GROUP BY doc_id),
             |bucketed AS (
             |  SELECT d.lang, s.logprob,
             |         ntile(3) OVER (PARTITION BY d.lang
             |                        ORDER BY s.logprob DESC, s.doc_id) AS bucket
             |  FROM scores s JOIN documents d ON s.doc_id = d.doc_id)
             |SELECT lang, bucket, count(*) AS n_docs,
             |       min(logprob) AS lp_min, max(logprob) AS lp_max
             |FROM bucketed GROUP BY lang, bucket
             |ORDER BY lang, bucket""".stripMargin)),

    QueryDef(
      "ta21_bpe_merges",
      (s, d) => {
        // A real BPE merge TRAINER (Sennrich et al. 2016), the
        // tokenizer-construction step of every pretraining pipeline,
        // in its scale-correct two-phase shape: ONE corpus pass builds
        // the (word, count) vocabulary, then every merge iteration
        // runs on that weighted vocab — frequency-weighted adjacent-
        // pair counts, a deterministic argmax (count DESC, pair ASC),
        // and a boundary-safe re-segmentation. Segments are space-
        // joined symbol strings; the merge applies as a space-PADDED
        // replace (' x y ' → ' xy ') so multi-char symbols never split
        // at substring boundaries, left-to-right non-overlapping —
        // greedy BPE semantics, identical in Spark and DuckDB. Per
        // iteration only the 1-row argmax returns to the driver (the
        // same driver-loop shape as the star rounds' convergence probe
        // in Dedup.connectedComponents); the pair counting stays a
        // distributed weighted aggregation.
        import org.apache.spark.sql.DataFrame
        val vocab = table(s, d, "documents")
          .select(explode(split(trim(col("text")), "\\s+")).as("w0"))
          .select(lower(col("w0")).as("word"))
          .filter(col("word").rlike("^[a-z]+$"))
          .groupBy("word").agg(count(lit(1)).as("c"))
        var segs: DataFrame = vocab
          .select(concat_ws(" ", split(col("word"), "")).as("seg"), col("c"))
          .localCheckpoint() // iterations below re-derive from here
        val merges = (1 to 5).map { k =>
          val top = segs
            .select(split(col("seg"), " ").as("sy"), col("c"))
            .select(explode(expr(
              """CASE WHEN size(sy) >= 2
                 THEN transform(sequence(0, size(sy) - 2),
                                i -> concat(sy[i], ' ', sy[i + 1]))
                 ELSE array() END""")).as("pair"), col("c"))
            .groupBy("pair").agg(sum("c").as("n"))
            .orderBy(col("n").desc, col("pair")).limit(1)
            .collect()(0)
          val (pair, n) = (top.getString(0), top.getLong(1))
          val merged = pair.replace(" ", "")
          val prev = segs
          segs = segs.withColumn("seg",
              expr(s"trim(replace(concat(' ', seg, ' '), ' $pair ', ' $merged '))"))
            .localCheckpoint() // truncate the per-iteration plan lineage
          releaseCheckpoint(prev) // superseded: the new one is materialized
          (k.toLong, pair, merged, n)
        }
        import s.implicits._
        merges.toDF("iteration", "pair", "merged", "n").orderBy("iteration")
      },
      Some {
        def iter(k: Int) = s"""
          |p$k AS (
          |  SELECT sy[i] || ' ' || sy[i+1] AS pair, sum(c) AS n
          |  FROM (SELECT string_split(seg, ' ') AS sy, c FROM s${k - 1}),
          |       unnest(generate_series(1, len(sy) - 1)) AS t(i)
          |  GROUP BY 1),
          |t$k AS (SELECT $k AS iteration, pair, replace(pair, ' ', '') AS merged, n
          |        FROM p$k ORDER BY n DESC, pair LIMIT 1),
          |s$k AS (SELECT trim(replace(' ' || seg || ' ',
          |                  ' ' || (SELECT pair FROM t$k) || ' ',
          |                  ' ' || (SELECT merged FROM t$k) || ' ')) AS seg, c
          |        FROM s${k - 1})""".stripMargin
        ("""WITH w AS (
           |  SELECT lower(u.w) AS word FROM documents,
           |       unnest(string_split_regex(trim(text), '\s+')) AS u(w)
           |  WHERE regexp_matches(lower(u.w), '^[a-z]+$')
           |), v AS (SELECT word, count(*) AS c FROM w GROUP BY word),
           |s0 AS (SELECT array_to_string(string_split(word, ''), ' ') AS seg, c
           |       FROM v),""".stripMargin
          + (1 to 5).map(iter).mkString(",")
          + """
           |SELECT CAST(iteration AS BIGINT) AS iteration, pair, merged,
           |       CAST(n AS BIGINT) AS n
           |FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2
           |      UNION ALL SELECT * FROM t3 UNION ALL SELECT * FROM t4
           |      UNION ALL SELECT * FROM t5)
           |ORDER BY iteration""".stripMargin)
      }),

    QueryDef(
      "ta22_bpe_tokenize",
      (s, d) => {
        // APPLY the trained merges (ta21's loop, word column kept):
        // tokenize the corpus with the learned segmentation and grade
        // per-language compression — words, BPE tokens, chars/token.
        // The application is a broadcast join of the corpus word
        // stream against the (vocab-sized) final segmentation table:
        // at 100 TB the corpus never shuffles, only the vocab does —
        // the same asymmetry a production tokenizer run exploits.
        import org.apache.spark.sql.DataFrame
        val words = table(s, d, "documents")
          .select(col("lang"),
            explode(split(trim(col("text")), "\\s+")).as("w0"))
          .select(col("lang"), lower(col("w0")).as("word"))
          .filter(col("word").rlike("^[a-z]+$"))
        val vocab = words.groupBy("word").agg(count(lit(1)).as("c"))
        var segs: DataFrame = vocab
          .select(col("word"),
            concat_ws(" ", split(col("word"), "")).as("seg"), col("c"))
          .localCheckpoint()
        (1 to 5).foreach { _ =>
          val top = segs
            .select(split(col("seg"), " ").as("sy"), col("c"))
            .select(explode(expr(
              """CASE WHEN size(sy) >= 2
                 THEN transform(sequence(0, size(sy) - 2),
                                i -> concat(sy[i], ' ', sy[i + 1]))
                 ELSE array() END""")).as("pair"), col("c"))
            .groupBy("pair").agg(sum("c").as("n"))
            .orderBy(col("n").desc, col("pair")).limit(1)
            .collect()(0)
          val pair = top.getString(0)
          val merged = pair.replace(" ", "")
          val prev = segs
          segs = segs.withColumn("seg",
              expr(s"trim(replace(concat(' ', seg, ' '), ' $pair ', ' $merged '))"))
            .localCheckpoint()
          releaseCheckpoint(prev) // superseded: the new one is materialized
        }
        val tok = segs.select(col("word"),
          size(split(col("seg"), " ")).cast("bigint").as("n_tok"),
          length(col("word")).cast("bigint").as("n_chr"))
        words.join(broadcast(tok), "word")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_words"),
            sum("n_tok").as("n_bpe_tokens"),
            round(sum("n_chr").cast("double") / sum("n_tok"), 4)
              .as("chars_per_token"))
          .orderBy("lang")
      },
      Some {
        def iter(k: Int) = s"""
          |p$k AS (
          |  SELECT sy[i] || ' ' || sy[i+1] AS pair, sum(c) AS n
          |  FROM (SELECT string_split(seg, ' ') AS sy, c FROM s${k - 1}),
          |       unnest(generate_series(1, len(sy) - 1)) AS t(i)
          |  GROUP BY 1),
          |t$k AS (SELECT pair, replace(pair, ' ', '') AS merged FROM p$k
          |        ORDER BY n DESC, pair LIMIT 1),
          |s$k AS (SELECT word, trim(replace(' ' || seg || ' ',
          |                  ' ' || (SELECT pair FROM t$k) || ' ',
          |                  ' ' || (SELECT merged FROM t$k) || ' ')) AS seg, c
          |        FROM s${k - 1})""".stripMargin
        ("""WITH wd AS (
           |  SELECT d.lang, lower(u.w) AS word FROM documents d,
           |       unnest(string_split_regex(trim(d.text), '\s+')) AS u(w)
           |  WHERE regexp_matches(lower(u.w), '^[a-z]+$')
           |), v AS (SELECT word, count(*) AS c FROM wd GROUP BY word),
           |s0 AS (SELECT word, array_to_string(string_split(word, ''), ' ')
           |         AS seg, c FROM v),""".stripMargin
          + (1 to 5).map(iter).mkString(",")
          + """
           |, tok AS (SELECT word, len(string_split(seg, ' ')) AS n_tok,
           |                 length(word) AS n_chr FROM s5)
           |SELECT wd.lang, count(*) AS n_words,
           |       CAST(sum(tok.n_tok) AS BIGINT) AS n_bpe_tokens,
           |       round(CAST(sum(tok.n_chr) AS DOUBLE) / sum(tok.n_tok), 4)
           |         AS chars_per_token
           |FROM wd JOIN tok ON wd.word = tok.word
           |GROUP BY wd.lang ORDER BY wd.lang""".stripMargin)
      })
  )
}
