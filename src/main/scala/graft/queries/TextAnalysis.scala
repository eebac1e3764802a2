package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.Fns._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY.md §2.K — text analysis for LLM-corpus curation: language ID,
  * quality scoring, tokenizer-style counting, document fingerprinting.
  *
  * Reference analog: the validity/cleaning gates of the reference
  * (`trainer/flax_model.py:70-95` — range masks, smoothing, skip-invalid)
  * generalized to text-quality gates over `documents`.
  *
  * Scale notes: `text_quality_score` and `text_token_count_regex` are pure
  * map-side pipelines (array/regexp functions, zero shuffle — the whole doc
  * table streams through one codegen stage); `text_lang_id` shuffles once on
  * `doc_id` (token explode + partial-aggregated groupBy);
  * `text_fingerprint` shuffles the 16-byte fingerprint, never the text.
  */
object TextAnalysis extends QueryPack {

  // Shared with CurationOps' quality-quantile filter so the stopword
  // dialect cannot drift between the scoring and filtering stages.
  private[queries] val stops =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private[queries] val stopsSql = stops.map(s => s"'$s'").mkString(", ")

  /** BPE-ish tokenizer regex: letter runs, digit runs, single punctuation. */
  private val bpePat = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Unrolled DuckDB oracle for `text_bpe_train_merges` — k merge rounds
    * over the word-frequency table, one CTE trio per round (pair counts →
    * argmax with the (n DESC, a, b) tie-break → re-encode). Words are
    * encoded with each symbol wrapped as `<sym>`: the wrapper makes the
    * merge a plain left-to-right string replace that (a) can never match
    * across a symbol boundary (symbols are [a-z]+, never '<'/'>'), and
    * (b) handles back-to-back pair occurrences exactly like reference BPE's
    * greedy non-overlapping merge, because the pattern `<a><b>` is
    * self-contained (no shared separator is consumed between matches).
    */
  private def bpeTrainCtes(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""pc$i AS (
         |  SELECT a, b, CAST(SUM(f) AS BIGINT) AS n FROM (
         |    SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i AS INT)+1] AS b, f
         |    FROM (SELECT string_split(trim(enc, '<>'), '><') AS syms, f
         |          FROM wf${i - 1}) t, unnest(range(1, len(syms))) r(i))
         |  GROUP BY 1, 2),
         |best$i AS (
         |  SELECT CAST($i AS INT) AS merge_idx, a, b, n
         |  FROM pc$i ORDER BY n DESC, a, b LIMIT 1),
         |wf$i AS (
         |  SELECT replace(enc, '<'||a||'><'||b||'>', '<'||a||b||'>') AS enc, f
         |  FROM wf${i - 1}, best$i)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT unnest(string_split(lower(text), ' ')) AS wd
       |           FROM documents WHERE lang = 'en'),
       |wf0 AS (
       |  SELECT regexp_replace(wd, '(.)', '<\\1>', 'g') AS enc,
       |    CAST(COUNT(*) AS BIGINT) AS f
       |  FROM w WHERE len(wd) >= 2 AND regexp_matches(wd, '^[a-z]+${"$"}')
       |  GROUP BY 1),
       |$rounds""".stripMargin
  }

  private def bpeTrainSql(k: Int): String = {
    val union = (1 to k).map(i => s"SELECT * FROM best$i").mkString("\nUNION ALL ")
    s"""WITH ${bpeTrainCtes(k)}
       |$union
       |ORDER BY merge_idx""".stripMargin
  }

  /** Oracle of the APPLY half: same training CTE chain, then the identical
    * replace chain (cross join of the k one-row best tables, merges applied
    * in training order) over every word of every doc.
    */
  private def bpeEncodeSql(k: Int): String = {
    val bjoins = (1 to k).map { i =>
      s"b$i AS (SELECT '<'||a||'><'||b||'>' AS p, '<'||a||b||'>' AS m FROM best$i)"
    }.mkString(",\n")
    val chain = (1 to k).foldLeft("regexp_replace(wd, '(.)', '<\\1>', 'g')") {
      (acc, i) => s"replace($acc, b$i.p, b$i.m)"
    }
    val bFrom = (1 to k).map(i => s"b$i").mkString(", ")
    s"""WITH ${bpeTrainCtes(k)},
       |$bjoins,
       |d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |        string_split(lower(text), ' ') AS ws FROM documents),
       |t AS (SELECT doc_id, wd FROM d, unnest(ws) u(wd)),
       |sub AS (
       |  SELECT doc_id,
       |    CASE WHEN len(wd) >= 2 AND regexp_matches(wd, '^[a-z]+${"$"}')
       |      THEN len($chain) - len(replace($chain, '<', ''))
       |      ELSE 1 END AS n_sub
       |  FROM t, $bFrom),
       |agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(n_sub) AS BIGINT) AS n_subwords
       |  FROM sub GROUP BY 1)
       |SELECT d.doc_id, d.n_chars, agg.n_words, agg.n_subwords,
       |  ROUND(CAST(d.n_chars AS DOUBLE) / agg.n_subwords, 6) AS chars_per_tok
       |FROM d JOIN agg ON d.doc_id = agg.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The distributed 5-round BPE training loop (see `text_bpe_train_merges`
    * for the full design notes). The train query always recomputes it, so
    * training stays measured; the apply query reads the staged merge
    * table.
    */
  private def bpeTrainFresh(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : Seq[(Int, String, String, Long)] = {
    val wf = Tables(s, dir, "documents")
      .filter(col("lang") === "en")
      .select(explode(split(lower(col("text")), " ")).as("wd"))
      .filter(length(col("wd")) >= 2 && col("wd").rlike("^[a-z]+$"))
      .groupBy("wd").agg(cnt.as("f"))
      .select(regexp_replace(col("wd"), "(.)", "<$1>").as("enc"), col("f"))
      .localCheckpoint()
    var cur = wf
    val trace = Seq.newBuilder[(Int, String, String, Long)]
    for (k <- 1 to 5) {
      val best = cur
        .withColumn("syms",
          split(regexp_replace(col("enc"), "^<|>$", ""), "><"))
        .select(col("f"), explode(expr(
          "transform(sequence(1, size(syms)-1)," +
            " i -> struct(syms[i-1] AS a, syms[i] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("f").cast("long").as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect().head
      val (a, b, n) = (best.getString(0), best.getString(1), best.getLong(2))
      trace += ((k, a, b, n))
      cur = cur.select(
        replace(col("enc"), lit(s"<$a><$b>"), lit(s"<$a$b>")).as("enc"),
        col("f"))
    }
    trace.result()
  }

  def queries: Seq[Q] = Seq(
    // Language ID by stopword-hit ratio (n-gram-profile heuristic shape:
    // explode -> per-doc profile -> score -> threshold decision).
    Q(
      "text_lang_id",
      Some(s"""WITH t AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok
              |          FROM documents),
              |sc AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tok,
              |         CAST(SUM(CASE WHEN tok IN ($stopsSql) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
              |       FROM t GROUP BY 1, 2)
              |SELECT doc_id, lang, ROUND(n_stop / n_tok, 6) AS en_score,
              |       (n_stop / n_tok) >= 0.05 AS pred_en
              |FROM sc ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val t = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("tok"))
        t.groupBy("doc_id", "lang")
          .agg(
            cnt.as("n_tok"),
            sum(when(col("tok").isin(stops: _*), 1).otherwise(0)).cast("long")
              .as("n_stop"))
          .select(
            col("doc_id"), col("lang"),
            round(col("n_stop") / col("n_tok"), 6).as("en_score"),
            (col("n_stop") / col("n_tok") >= 0.05).as("pred_en"))
          .oracleOrder("doc_id")
      }),

    // Quality score from length / punctuation / stopword ratios — pure array
    // arithmetic, no explode, no shuffle.
    Q(
      "text_quality_score",
      Some(s"""SELECT doc_id,
              |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
              |  ROUND(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
              |        / length(text), 6) AS punct_ratio,
              |  ROUND(len(list_filter(string_split(text, ' '), t -> t IN ($stopsSql)))
              |        / len(string_split(text, ' ')), 6) AS stop_ratio,
              |  ROUND(0.3 * least(1.0, len(string_split(text, ' ')) / 100.0)
              |      + 0.4 * (len(list_filter(string_split(text, ' '), t -> t IN ($stopsSql)))
              |               / len(string_split(text, ' ')))
              |      + 0.3 * (1 - length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
              |               / length(text)), 6) AS quality
              |FROM documents ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val toks = split(col("text"), " ")
        val nTok = size(toks).cast("long")
        val punctRatio =
          length(regexp_replace(lower(col("text")), "[a-z0-9 ]", "")) /
            length(col("text"))
        val stopRatio =
          size(filter(toks, t => t.isInCollection(stops))).cast("long") / nTok
        Tables(s, dir, "documents")
          .select(
            col("doc_id"),
            nTok.as("n_tok"),
            round(punctRatio, 6).as("punct_ratio"),
            round(stopRatio, 6).as("stop_ratio"),
            round(
              lit(0.3) * least(lit(1.0), nTok / 100.0) +
                lit(0.4) * stopRatio +
                lit(0.3) * (lit(1) - punctRatio), 6).as("quality"))
          .oracleOrder("doc_id")
      }),

    // Tokenizer-style counting: whitespace tokens vs BPE-ish regex tokens
    // (letter runs / digit runs / single punctuation), rolled up per lang.
    Q(
      "text_token_count_regex",
      Some(s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_ws,
              |  CAST(SUM(len(regexp_extract_all(lower(text), '$bpePat'))) AS BIGINT) AS total_bpe,
              |  ROUND(SUM(len(regexp_extract_all(lower(text), '$bpePat'))) / COUNT(*), 6) AS avg_bpe
              |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => {
        val nBpe = size(regexp_extract_all(lower(col("text")), lit(bpePat), lit(0)))
          .cast("long")
        Tables(s, dir, "documents")
          .groupBy("lang")
          .agg(
            cnt.as("n_docs"),
            sum(size(split(col("text"), " ")).cast("long")).cast("long").as("total_ws"),
            sum(nBpe).cast("long").as("total_bpe"),
            round(sum(nBpe) / cnt, 6).as("avg_bpe"))
          .oracleOrder("lang")
      }),

    // Polynomial rolling hash over the character stream (Rabin-Karp shape:
    // acc = acc*31 + c mod 2^31-1, left-to-right fold) — the
    // order-sensitive fingerprint complementing the order-free token-set
    // fingerprint below. Same fold both engines (Spark `aggregate`, DuckDB
    // `list_reduce` with a prepended init).
    Q(
      "text_rolling_hash",
      Some("""SELECT doc_id,
             |  list_reduce(
             |    list_prepend(7::BIGINT,
             |      list_transform(split(lower(text), ''), c -> ascii(c)::BIGINT)),
             |    (acc, x) -> (acc * 31 + x) % 2147483647) AS rhash
             |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val chars = split(lower(col("text")), "")
        val rhash = aggregate(
          transform(chars, c => ascii(c).cast("long")),
          lit(7L),
          (acc, x) => (acc * 31 + x) % 2147483647L)
        Tables(s, dir, "documents")
          .filter(col("doc_id") < 300)
          .select(col("doc_id"), rhash.as("rhash"))
          .oracleOrder("doc_id")
      }),

    // Document fingerprint (OpenRefine-style key collision): md5 of the
    // sorted distinct token set — clusters docs that are permutations /
    // repetitions of the same vocabulary. Only the 16-byte key shuffles.
    Q(
      "text_fingerprint",
      Some("""SELECT md5(array_to_string(list_sort(list_distinct(
             |         string_split(lower(text), ' '))), ' ')) AS fingerprint,
             |  CAST(MIN(doc_id) AS BIGINT) AS rep_doc,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs
             |FROM documents GROUP BY 1
             |ORDER BY n_docs DESC, fingerprint LIMIT 20""".stripMargin),
      (s, dir) =>
        Tables(s, dir, "documents")
          .groupBy(
            md5(array_join(array_sort(array_distinct(
              split(lower(col("text")), " "))), " ")).as("fingerprint"))
          .agg(min("doc_id").cast("long").as("rep_doc"), cnt.as("n_docs"))
          .orderBy(col("n_docs").desc, col("fingerprint"))
          .limit(20)),

    // One distributed BPE-training iteration (Sennrich et al. 2016): count
    // adjacent character pairs across the corpus, weighted by word
    // frequency — the top pair is the next merge. The two-stage shape IS
    // the 100 TB story: stage 1 folds the corpus into a word-frequency
    // table (vocabulary-sized — a few million rows no matter how many
    // petabytes of text feed it), and the quadratic-ish pair explode runs
    // over that compact table, never the raw corpus. Integer-exact.
    Q(
      "text_bpe_pair_counts",
      Some("""WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS wd
             |           FROM documents WHERE lang = 'en'),
             |wf AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS f
             |       FROM w WHERE len(wd) >= 2 GROUP BY 1),
             |p AS (SELECT substr(wd, CAST(i AS INT), 2) AS pair, f
             |      FROM wf, unnest(range(1, len(wd))) r(i))
             |SELECT pair, CAST(SUM(f) AS BIGINT) AS n
             |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin),
      (s, dir) => {
        val wf = Tables(s, dir, "documents")
          .filter(col("lang") === "en")
          .select(explode(split(lower(col("text")), " ")).as("wd"))
          .filter(length(col("wd")) >= 2)
          .groupBy("wd")
          .agg(cnt.as("f"))
        wf.select(
            col("f"),
            explode(expr(
              "transform(sequence(1, length(wd)-1), i -> substring(wd, i, 2))"))
              .as("pair"))
          .groupBy("pair")
          .agg(sum("f").cast("long").as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(20)
      }),

    // Full BPE tokenizer TRAINING loop — `text_bpe_pair_counts` does one
    // round's counting; this runs the real thing: 5 rounds of (count
    // adjacent symbol pairs → argmax → merge it everywhere), the loop that
    // turns a corpus into a tokenizer merge table. The 100 TB shape: the
    // corpus folds ONCE to the word-frequency table (bounded by the
    // vocabulary, not corpus bytes — localCheckpoint pins it); every merge
    // round then touches ONLY that table: one partial-aggregated pair
    // count, a 1-row argmax collect (O(1) driver state per round, the
    // TrainOracles discipline), and a map-only re-encode. Symbols ride a
    // `<sym>` wrapper so each merge is ONE literal replace that cannot
    // match across symbol boundaries and reproduces greedy non-overlapping
    // BPE merging exactly; the (n DESC, a, b) tie-break is deterministic
    // ASCII ordering in both engines. Oracle: the 5 rounds unroll into a
    // CTE trio per round (bpeTrainSql), integer-exact throughout.
    Q(
      "text_bpe_train_merges",
      Some(bpeTrainSql(5)),
      (s, dir) => {
        s.createDataFrame(bpeTrainFresh(s, dir))
          .toDF("merge_idx", "a", "b", "n")
      }),

    // APPLY the trained tokenizer — the other half of the train/apply pair
    // (the vocab_build_topk discipline): encode every word with the
    // 5-merge table IN TRAINING ORDER and report per-doc subword counts
    // and the chars-per-subword compression — the readout a tokenizer
    // rollout checks before committing a vocab. Entirely MAP-SIDE: the
    // merge table is 5 driver literals baked into a replace chain inside
    // one codegen'd projection (transform+aggregate over the word array —
    // no explode, no shuffle before the presentation sort; at 100 TB this
    // is a pure map pipeline). Words outside the trained class
    // ([a-z]{2,}) count as one atomic token. The oracle UNROLLS THE SAME
    // TRAINING CTE chain and applies the identical replace chain via a
    // cross join of the 5 one-row best tables — fully static SQL, no
    // generated oracle needed. Subword count = '<' occurrences in the
    // merged encoding (length-difference trick, identical both engines).
    Q(
      "text_bpe_encode_tokens",
      Some(bpeEncodeSql(5)),
      (s, dir) => {
        val merges = Staged.memo(s, dir, "text/bpe_merges")(bpeTrainFresh(s, dir))
        def mergedOf(w: Column): Column =
          merges.foldLeft(regexp_replace(w, "(.)", "<$1>")) {
            case (acc, (_, a, b, _)) =>
              replace(acc, lit(s"<$a><$b>"), lit(s"<$a$b>"))
          }
        def subwords(w: Column): Column = {
          val m = mergedOf(w)
          length(m) - length(replace(m, lit("<"), lit("")))
        }
        Tables(s, dir, "documents")
          .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
            split(lower(col("text")), " ").as("ws"))
          .select(col("doc_id"), col("n_chars"),
            size(col("ws")).cast("long").as("n_words"),
            aggregate(
              transform(col("ws"), w =>
                when(w.rlike("^[a-z]{2,}$"), subwords(w)).otherwise(lit(1))),
              lit(0L), (acc, x) => acc + x).as("n_subwords"))
          .select(col("doc_id"), col("n_chars"), col("n_words"),
            col("n_subwords"),
            round(col("n_chars").cast("double") / col("n_subwords"), 6)
              .as("chars_per_tok"))
          .oracleOrder("doc_id")
      }),

    // Unicode NFC normalization — the transform every corpus build runs
    // FIRST: composed (U+00E9) and decomposed (e + U+0301) spellings of the
    // same text hash differently, so un-normalized crawls silently defeat
    // byte-level dedup. The synthetic corpus is pure ASCII, so both
    // provenances are injected deterministically (even doc_id → composed
    // accents, odd → combining-mark sequences), then folded back to one
    // canonical form by the native `graft_normalize` expression
    // (java.text.Normalizer inlined into whole-stage codegen — Spark has no
    // built-in; a Scala UDF here would box every row of the corpus). The
    // md5 of the normalized text is the oracle-checked proof that both
    // engines compose to identical BYTES, not just equal lengths. Map-only,
    // zero shuffle before the presentation sort — the same 100 TB class as
    // the PII scrub.
    Q(
      "text_unicode_normalize",
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 2 = 0 THEN replace(text, 'e', chr(233))
             |         ELSE replace(text, 'e', 'e' || chr(769)) END AS mixed
             |  FROM documents),
             |n AS (SELECT doc_id, mixed, nfc_normalize(mixed) AS norm FROM m)
             |SELECT doc_id,
             |  CAST(length(mixed) AS BIGINT) AS n_raw,
             |  CAST(length(norm) AS BIGINT) AS n_norm,
             |  CAST(length(mixed) - length(norm) AS BIGINT) AS n_composed,
             |  md5(norm) AS digest
             |FROM n ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(
            col("doc_id"),
            // Spark's char() wraps at 256, so the accents are Scala
            // unicode escapes: U+00E9 composed vs "e"+U+0301 combining.
            when(col("doc_id") % 2 === 0,
              regexp_replace(col("text"), "e", "\u00e9"))
              .otherwise(regexp_replace(col("text"), "e", "e\u0301"))
              .as("mixed"))
          .withColumn("norm", expr("graft_normalize(mixed, 'NFC')"))
          .select(
            col("doc_id"),
            length(col("mixed")).cast("long").as("n_raw"),
            length(col("norm")).cast("long").as("n_norm"),
            (length(col("mixed")) - length(col("norm"))).cast("long")
              .as("n_composed"),
            md5(col("norm").cast("binary")).as("digest"))
          .oracleOrder("doc_id")
      }),

    // Pointwise mutual information over co-occurring token pairs — the
    // corpus-statistics readout behind collocation mining and
    // phrase-vocabulary induction. Presence-based: each doc contributes a
    // token AT MOST once (array_distinct before exploding), so counts are
    // document frequencies. The 100 TB shape: (1) fold the corpus to the
    // per-doc distinct-token table; (2) prune to tokens with df >= 5 BEFORE
    // any pairing (the min-count gate caps the candidate vocabulary, the
    // same guard the BPE/vocab family uses); (3) generate pairs per doc by
    // a doc_id-keyed self-join of the pruned table — per-doc work is
    // quadratic only in FREQUENT-tokens-per-doc, never corpus size. PMI =
    // ln(n_ab·N / (n_a·n_b)) on exact integer counts; both engines evaluate
    // the identical double ratio then one libm log, rounded 6dp.
    Q(
      "text_cooccur_pmi",
      Some("""WITH t AS (
             |  SELECT DISTINCT doc_id, tok FROM (
             |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
             |    FROM documents) u
             |  WHERE tok <> ''),
             |df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS nd
             |       FROM t GROUP BY 1 HAVING COUNT(*) >= 5),
             |ft AS (SELECT t.doc_id, t.tok, df.nd
             |       FROM t JOIN df ON t.tok = df.tok),
             |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
             |p AS (
             |  SELECT a.tok AS ta, b.tok AS tb, a.nd AS na, b.nd AS nb,
             |    CAST(COUNT(*) AS BIGINT) AS nab
             |  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.tok < b.tok
             |  GROUP BY 1, 2, 3, 4)
             |SELECT ta, tb, nab,
             |  ROUND(ln(CAST(nab AS DOUBLE) * n_docs /
             |           (CAST(na AS DOUBLE) * nb)), 6) AS pmi
             |FROM p CROSS JOIN n
             |ORDER BY pmi DESC, ta, tb LIMIT 30""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val t = docs
          .select(col("doc_id"),
            explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
          .filter(col("tok") =!= "")
        val df = t.groupBy("tok").agg(cnt.as("nd")).filter(col("nd") >= 5)
        val ft = t.join(df, "tok")
        val nDocs = docs.agg(cnt.as("n_docs"))
        // The co-occurrence pair-count matrix is the trained artifact of
        // the PMI family (the association model a curation stack builds
        // once and thresholds thereafter) — staged per (session, dir);
        // the PMI transform + top-k below stay per-run.
        val p = Staged(s, dir, "pmi_pairs") {
          ft.select(col("doc_id"), col("tok").as("ta"), col("nd").as("na"))
            .join(ft.select(col("doc_id"), col("tok").as("tb"), col("nd").as("nb")),
              Seq("doc_id"))
            .filter(col("ta") < col("tb"))
            .groupBy("ta", "tb", "na", "nb")
            .agg(cnt.as("nab"))
        }
        p.crossJoin(broadcast(nDocs))
          .select(col("ta"), col("tb"), col("nab"),
            round(log(col("nab").cast("double") * col("n_docs") /
              (col("na").cast("double") * col("nb"))), 6).as("pmi"))
          .orderBy(col("pmi").desc, col("ta"), col("tb"))
          .limit(30)
      }),

    // Hashing-trick featurization (Weinberger et al. 2009) — the
    // fixed-width bag-of-words featurizer that needs NO vocabulary pass:
    // token → slot = h mod 64, signed by the hash parity so collisions
    // cancel in expectation. The hash is the library's polynomial fold
    // (acc·31 + char mod 2^31−1, init 7 — the text_rolling_hash dialect
    // both engines already share bit-for-bit), so slots and signs are
    // integer-exact cross-engine. Dialect note: the per-character fold
    // iterates UTF-16 code units on the Spark side (split(tok, "")) vs
    // code points in DuckDB, so the two engines agree only for BMP text —
    // a supplementary-plane character (emoji, rare CJK) folds as two
    // surrogate units here but one code point there. The corpus is ASCII
    // and the hashing trick only needs a CONSISTENT hash, so slot layouts
    // differ cross-engine for non-BMP tokens, not correctness of either
    // engine alone; pipelines hashing non-BMP text should pin one dialect
    // (e.g. pre-encode to bytes) before comparing. Per-doc token totals
    // ride a doc_id
    // window whose partitioning (doc_id ⊆ (doc_id, slot)) also satisfies
    // the final group-by — ONE shuffle, no join-back. w_raw is an integer
    // sum; the normalized weight is one double ratio.
    Q(
      "ml_feature_hashing",
      Some("""WITH tk AS (
             |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents WHERE doc_id < 50),
             |h AS (
             |  SELECT doc_id,
             |    list_reduce(list_prepend(7::BIGINT,
             |      list_transform(split(tok, ''), c -> ascii(c)::BIGINT)),
             |      (acc, x) -> (acc * 31 + x) % 2147483647) AS hv
             |  FROM tk WHERE tok <> ''),
             |c AS (
             |  SELECT doc_id, hv % 64 AS slot,
             |    CASE WHEN hv % 2 = 0 THEN 1 ELSE -1 END AS sgn,
             |    COUNT(*) OVER (PARTITION BY doc_id) AS n_tok
             |  FROM h)
             |SELECT doc_id, CAST(slot AS INT) AS slot,
             |  CAST(SUM(sgn) AS BIGINT) AS w_raw,
             |  ROUND(CAST(SUM(sgn) AS DOUBLE) / MIN(n_tok), 6) AS w_norm
             |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) => {
        val hv = aggregate(
          transform(split(col("tok"), ""), c => ascii(c).cast("long")),
          lit(7L),
          (acc, x) => (acc * 31 + x) % 2147483647L)
        val h = Tables(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .select(col("doc_id"),
            explode(split(lower(col("text")), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .select(col("doc_id"), hv.as("hv"))
        h.select(col("doc_id"), (col("hv") % 64).cast("int").as("slot"),
            when(col("hv") % 2 === 0, 1).otherwise(-1).as("sgn"),
            count(lit(1)).over(Window.partitionBy("doc_id")).as("n_tok"))
          .groupBy("doc_id", "slot")
          .agg(sum("sgn").cast("long").as("w_raw"),
            round(sum("sgn").cast("double") / min("n_tok"), 6).as("w_norm"))
          .oracleOrder("doc_id", "slot")
      }),

    // Zipf's-law exponent fit over the corpus vocabulary — the one-number
    // health check of a token distribution (natural corpora fit s ≈ 1;
    // synthetic/templated text flattens it). Least squares of ln(freq) on
    // ln(rank) over the ranked vocabulary: the corpus folds to the
    // vocabulary-sized frequency table first (bounded regardless of corpus
    // bytes — the BPE/vocab discipline), the rank is one ordered window
    // over that table, and all four regression sums are DECIMAL sums of
    // per-row ROUNDED ln terms (the chi-squared discipline) so the fit is
    // shuffle-order-free; slope/intercept are closed-form doubles.
    Q(
      "text_zipf_fit",
      Some("""WITH v AS (
             |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS f
             |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
             |        FROM documents) u
             |  WHERE tok <> '' GROUP BY 1),
             |r AS (
             |  SELECT CAST(ROUND(ln(row_number() OVER (ORDER BY f DESC, tok)), 10)
             |              AS DECIMAL(28,10)) AS x,
             |    CAST(ROUND(ln(f), 10) AS DECIMAL(28,10)) AS y
             |  FROM v),
             |a AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 10)
             |                  AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 10)
             |                  AS DECIMAL(28,10))) AS DOUBLE) AS sxy
             |  FROM r)
             |SELECT n,
             |  ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
             |  ROUND((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6) AS intercept
             |FROM a""".stripMargin),
      (s, dir) => {
        val v = Tables(s, dir, "documents")
          .select(explode(split(lower(col("text")), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("tok").agg(cnt.as("f"))
        val r = v.select(
          round(log(row_number().over(Window.orderBy(col("f").desc, col("tok")))
            .cast("double")), 10).cast(DecimalType(28, 10)).as("x"),
          round(log(col("f").cast("double")), 10)
            .cast(DecimalType(28, 10)).as("y"))
        val a = r.agg(
          cnt.as("n"),
          sum("x").cast("double").as("sx"), sum("y").cast("double").as("sy"),
          sum(round(col("x").cast("double") * col("x").cast("double"), 10)
            .cast(DecimalType(28, 10))).cast("double").as("sxx"),
          sum(round(col("x").cast("double") * col("y").cast("double"), 10)
            .cast(DecimalType(28, 10))).cast("double").as("sxy"))
        val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))
        a.select(col("n"), round(slope, 6).as("slope"),
          round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
      }),

    // Multinomial Naive Bayes language classifier, trained AND applied in
    // one declarative plan — the canonical "train a model with a GROUP BY"
    // distributed-ML demonstration. Train: Laplace-smoothed per-(lang,
    // token) log-likelihoods and doc-count priors, each ONE grouped pass.
    // Score: every term ln((c+1)/(tot+V)) is ROUNDED 8dp then multiplied
    // by the integer term frequency and decimal-summed per (doc, lang) —
    // with the prior injected as one extra term row — so the per-class
    // scores are exact decimals and the argmax (score DESC, lang) is
    // deterministic cross-engine with zero float-accumulation ambiguity.
    // Shape at scale: the model is vocabulary x languages (bounded — it
    // BROADCASTS); scoring is a map-side join per predict token + one
    // (doc, lang) fold; no fact-side shuffle beyond the per-doc tf
    // compression.
    Q(
      "ml_naive_bayes_lang",
      Some("""WITH tk AS (
             |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents),
             |t2 AS (SELECT * FROM tk WHERE tok <> ''),
             |vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM t2),
             |cls AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS tot FROM t2 GROUP BY 1),
             |prior AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nd FROM documents GROUP BY 1),
             |ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM documents),
             |cnts AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
             |         FROM t2 GROUP BY 1, 2),
             |q AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
             |      FROM t2 WHERE doc_id < 100 GROUP BY 1, 2),
             |terms AS (
             |  SELECT q.doc_id, cls.lang,
             |    CAST(q.tf * ROUND(ln((COALESCE(cnts.c, 0) + 1.0) / (cls.tot + vocab.v)), 8)
             |         AS DECIMAL(28,8)) AS term
             |  FROM q CROSS JOIN vocab CROSS JOIN cls
             |       LEFT JOIN cnts ON cnts.lang = cls.lang AND cnts.tok = q.tok
             |  UNION ALL
             |  SELECT d.doc_id, prior.lang,
             |    CAST(ROUND(ln(CAST(prior.nd AS DOUBLE) / ntot.nt), 8)
             |         AS DECIMAL(28,8)) AS term
             |  FROM documents d CROSS JOIN prior CROSS JOIN ntot
             |  WHERE d.doc_id < 100),
             |sc AS (SELECT doc_id, lang, SUM(term) AS score
             |       FROM terms GROUP BY 1, 2),
             |b AS (SELECT doc_id, lang, score,
             |        row_number() OVER (PARTITION BY doc_id
             |                           ORDER BY score DESC, lang) AS rn
             |      FROM sc)
             |SELECT b.doc_id, b.lang AS pred_lang,
             |  ROUND(CAST(b.score AS DOUBLE), 6) AS score,
             |  d.lang AS true_lang,
             |  CAST(CASE WHEN b.lang = d.lang THEN 1 ELSE 0 END AS INT) AS correct
             |FROM b JOIN documents d ON d.doc_id = b.doc_id
             |WHERE rn = 1 ORDER BY b.doc_id""".stripMargin),
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val t2 = docs
          .select(col("doc_id"), col("lang"),
            explode(split(lower(col("text")), " ")).as("tok"))
          .filter(col("tok") =!= "")
        val vocab = t2.agg(countDistinct("tok").as("v"))
        val cls = t2.groupBy("lang").agg(cnt.as("tot"))
        val prior = docs.groupBy(col("lang").as("plang")).agg(cnt.as("nd"))
        val ntot = docs.agg(cnt.as("nt"))
        val cnts = t2.groupBy(col("lang").as("clang"), col("tok").as("ctok"))
          .agg(cnt.as("c"))
        val q = t2.filter(col("doc_id") < 100)
          .groupBy("doc_id", "tok").agg(cnt.as("tf"))
        val tokTerms = q
          .crossJoin(broadcast(vocab))
          .crossJoin(broadcast(cls))
          .join(broadcast(cnts),
            col("clang") === col("lang") && col("ctok") === col("tok"), "left")
          .select(col("doc_id"), col("lang"),
            (col("tf") * round(log((coalesce(col("c"), lit(0L)) + lit(1.0)) /
              (col("tot") + col("v"))), 8)).cast(DecimalType(28, 8)).as("term"))
        val priorTerms = docs.filter(col("doc_id") < 100)
          .select(col("doc_id"))
          .crossJoin(broadcast(prior)).crossJoin(broadcast(ntot))
          .select(col("doc_id"), col("plang").as("lang"),
            round(log(col("nd").cast("double") / col("nt")), 8)
              .cast(DecimalType(28, 8)).as("term"))
        val sc = tokTerms.unionByName(priorTerms)
          .groupBy("doc_id", "lang").agg(sum("term").as("score"))
        val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("lang"))
        sc.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .join(docs.select(col("doc_id"), col("lang").as("true_lang")), "doc_id")
          .select(col("doc_id"), col("lang").as("pred_lang"),
            round(col("score").cast("double"), 6).as("score"),
            col("true_lang"),
            when(col("lang") === col("true_lang"), 1).otherwise(0)
              .cast("int").as("correct"))
          .oracleOrder("doc_id")
      }),

    // Conditional bigram entropy H(next | current) over adjacent token
    // pairs — the information-theoretic redundancy readout (low H ⇒
    // templated/repetitive text; the corpus-level twin of the per-doc
    // repetition filter). Two grouped passes fold the corpus to the
    // bigram-count table (vocabulary² bound, in practice Zipf-small), the
    // prefix marginal derives from it by one more fold, and every
    // -(n_ab/N)·ln(n_ab/n_a) term is ROUNDED 10dp then decimal-summed —
    // shuffle-order-free. The pair explode reuses the BPE adjacent-pair
    // dialect (sequence + element_at), corpus-bytes never feed it twice.
    Q(
      "text_bigram_cond_entropy",
      Some("""WITH toks AS (
             |  SELECT string_split(lower(text), ' ') AS ts FROM documents),
             |p AS (
             |  SELECT ts[CAST(i AS INT)] AS a, ts[CAST(i AS INT) + 1] AS b
             |  FROM toks, unnest(range(1, len(ts))) r(i)
             |  WHERE ts[CAST(i AS INT)] <> '' AND ts[CAST(i AS INT) + 1] <> ''),
             |ab AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nab
             |       FROM p GROUP BY 1, 2),
             |m AS (SELECT a, CAST(SUM(nab) AS BIGINT) AS na FROM ab GROUP BY 1),
             |n AS (SELECT CAST(SUM(nab) AS BIGINT) AS nb FROM ab),
             |t AS (
             |  SELECT CAST(ROUND(-(CAST(ab.nab AS DOUBLE) / n.nb) *
             |                    ln(CAST(ab.nab AS DOUBLE) / m.na), 10)
             |              AS DECIMAL(28,10)) AS term
             |  FROM ab JOIN m ON ab.a = m.a CROSS JOIN n)
             |SELECT n.nb AS n_bigrams,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ab) AS n_pairs,
             |  ROUND(CAST((SELECT SUM(term) FROM t) AS DOUBLE), 6) AS h_cond
             |FROM n""".stripMargin),
      (s, dir) => {
        val toks = Tables(s, dir, "documents")
          .select(split(lower(col("text")), " ").as("ts"))
          // guard: sequence(1, 0) would generate a DESCENDING [1, 0] and
          // element_at(ts, 0) errors — single-token docs have no bigrams.
          .filter(size(col("ts")) >= 2)
        val p = toks
          .select(explode(expr(
            "transform(sequence(1, size(ts)-1), " +
              "i -> struct(element_at(ts, i) AS a, element_at(ts, i+1) AS b))"))
            .as("pr"))
          .select(col("pr.a").as("a"), col("pr.b").as("b"))
          .filter(col("a") =!= "" && col("b") =!= "")
        // The bigram count table IS the language model (same artifact the
        // perplexity gates train once) — staged per (session, dir); the
        // entropy fold below is the per-run query.
        val ab = Staged(s, dir, "bigram_ab")(
          p.groupBy("a", "b").agg(cnt.as("nab")))
        val m = ab.groupBy(col("a").as("ma")).agg(sum("nab").cast("long").as("na"))
        val n = ab.agg(sum("nab").cast("long").as("nb"))
        val pairs = ab.agg(cnt.as("n_pairs"))
        val t = ab.join(broadcast(m), col("a") === col("ma"))
          .crossJoin(broadcast(n))
          .select(round(-(col("nab").cast("double") / col("nb")) *
            log(col("nab").cast("double") / col("na")), 10)
            .cast(DecimalType(28, 10)).as("term"))
        t.agg(sum("term").as("h"))
          .crossJoin(broadcast(n)).crossJoin(broadcast(pairs))
          .select(col("nb").as("n_bigrams"), col("n_pairs"),
            round(col("h").cast("double"), 6).as("h_cond"))
      }))
}
