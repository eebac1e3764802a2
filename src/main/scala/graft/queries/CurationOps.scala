package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.Fns._
import graft.ml.SeededSplit
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY.md §2.L — training-data curation extensions: PII redaction,
  * repetition-based quality filtering (Gopher-style), weighted mixture
  * sampling, sequence packing, and vocabulary building with OOV accounting.
  *
  * Reference analog: the reference's data preparation is a monolithic
  * load/mask/clip pass (`trainer/flax_model.py:70-95`); these operators are
  * the text-pipeline generalizations an LLM corpus build needs between raw
  * scan and training batches.
  *
  * Scale notes (each documented per query): redaction and repetition
  * scoring are zero-shuffle map pipelines; mixture sampling shuffles only
  * the `source` key; packing does a per-`lang` window cumsum (partitioned
  * streams, never a global order); vocab build shuffles token keys once
  * and broadcasts the resulting dictionary.
  */
object CurationOps extends QueryPack {

  // PII surrogate patterns. Email/phone are the real-world shapes (RE2 and
  // Java regex agree on this subset); the synthetic corpus contains neither,
  // so `customer` stands in as the blocklisted entity term that actually
  // fires — the redaction plumbing (match-count + nested global replace) is
  // identical for all three.
  private val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phonePat = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
  private val termPat = "\\bcustomer\\b"

  // Gopher-style repetition gates (calibrated on the synthetic corpus so
  // both outcomes occur: 146/500 docs pass at sf0.01).
  private val maxTop2Frac = 0.06
  private val maxDupTokFrac = 0.5

  /** Tokens-per-training-sequence budget for concat-and-chunk packing. */
  private val packBudget = 128

  /** Vocabulary size for the top-k dictionary build. */
  private val vocabK = 10

  /** Count-min sketch geometry: d hash rows × w buckets. */
  private val cmsD = 4
  private val cmsW = 64

  /** Misra-Gries heavy hitters: per-partition counter capacity, and the
    * confirm threshold share (output = tokens with count > n/mgK). Capacity
    * 63 ≥ mgK-1 = 31 preserves the MG guarantee (an item with global
    * frequency > n/(cap+1) must survive in at least one partition's
    * counter table — pigeonhole over partition-local counts), so the
    * candidate union provably contains every confirmed heavy hitter.
    */
  private val mgCapacity = 63
  private val mgK = 32

  def queries: Seq[Q] = Seq(
    // k-anonymity audit (Sweeney 2002) — the privacy gate a dataset
    // release runs NEXT TO the PII scrub: even with direct identifiers
    // redacted, a quasi-identifier combination shared by fewer than k
    // records re-identifies people by linkage. Group by the
    // quasi-identifier tuple (nation, market segment), flag every
    // equivalence class smaller than k=5 for suppression, and carry the
    // global suppressed-row total on every row (the release decision
    // number). ONE partial-aggregated shuffle on the quasi tuple; the
    // 1-row total broadcasts back. Integer-exact end to end.
    Q(
      "curation_k_anonymity",
      Some("""WITH g AS (
             |  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM customer GROUP BY 1, 2),
             |tot AS (
             |  SELECT CAST(COALESCE(SUM(CASE WHEN n < 5 THEN n END), 0) AS BIGINT)
             |    AS suppressed_rows
             |  FROM g)
             |SELECT c_nationkey, c_mktsegment, n, n < 5 AS suppressed,
             |  suppressed_rows
             |FROM g, tot ORDER BY c_nationkey, c_mktsegment""".stripMargin),
      (s, dir) => {
        val g = Tables(s, dir, "customer")
          .groupBy("c_nationkey", "c_mktsegment")
          .agg(cnt.as("n"))
        val tot = g.agg(
          coalesce(sum(when(col("n") < 5, col("n"))), lit(0L))
            .cast("long").as("suppressed_rows"))
        g.crossJoin(broadcast(tot))
          .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
            (col("n") < 5).as("suppressed"), col("suppressed_rows"))
          .oracleOrder("c_nationkey", "c_mktsegment")
      }),

    // PII redaction: count matches per pattern, then nested global
    // replacement (email -> phone -> blocklist term). Pure per-row regex
    // work — zero shuffle, the whole table streams through one codegen
    // stage; at 100 TB this is the canonical embarrassingly-parallel scrub.
    Q(
      "text_pii_redact",
      Some(s"""SELECT doc_id,
              |  len(regexp_extract_all(text, '$emailPat')) AS n_email,
              |  len(regexp_extract_all(text, '$phonePat')) AS n_phone,
              |  len(regexp_extract_all(text, '$termPat')) AS n_terms,
              |  regexp_replace(regexp_replace(regexp_replace(text,
              |    '$emailPat', '[EMAIL]', 'g'),
              |    '$phonePat', '[PHONE]', 'g'),
              |    '$termPat', '[NAME]', 'g') AS redacted
              |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        Tables(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("text"), lit(emailPat), lit(0)))
              .cast("long").as("n_email"),
            size(regexp_extract_all(col("text"), lit(phonePat), lit(0)))
              .cast("long").as("n_phone"),
            size(regexp_extract_all(col("text"), lit(termPat), lit(0)))
              .cast("long").as("n_terms"),
            regexp_replace(
              regexp_replace(
                regexp_replace(col("text"), emailPat, "[EMAIL]"),
                phonePat, "[PHONE]"),
              termPat, "[NAME]").as("redacted"))
          .oracleOrder("doc_id")),

    // Repetition quality filter (Gopher rules): top-2-gram fraction and
    // duplicate-token fraction, thresholded. The gram mode is computed the
    // linear way — explode grams, count per (doc, gram), take the per-doc
    // max — two partial-aggregated shuffles on (doc_id, gram) then doc_id,
    // O(total grams) work. (A nested higher-order-function form would be
    // shuffle-free but Catalyst re-evaluates the gram-array expression per
    // lambda element — no CSE inside lambdas — and it degrades
    // quadratically on long documents; the exploded plan is both the fast
    // AND the 100 TB shape.) `keep` compares the UNROUNDED doubles
    // (identical IEEE division in both engines); rounding is display-only.
    Q(
      "text_repetition_filter",
      Some(s"""WITH t AS (
              |  SELECT doc_id, string_split(text, ' ') AS l
              |  FROM documents WHERE doc_id < 200),
              |g AS (
              |  SELECT doc_id, len(l) AS n_tok,
              |    list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]) AS grams,
              |    1 - len(list_distinct(l)) / CAST(len(l) AS DOUBLE) AS dup_frac
              |  FROM t WHERE len(l) >= 2),
              |m AS (
              |  SELECT doc_id, n_tok, dup_frac,
              |    list_max(list_transform(list_distinct(grams),
              |      x -> len(list_filter(grams, y -> y = x))))
              |      / CAST(len(grams) AS DOUBLE) AS top2_frac
              |  FROM g)
              |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
              |  ROUND(top2_frac, 6) AS top2_frac,
              |  ROUND(dup_frac, 6) AS dup_tok_frac,
              |  (top2_frac <= $maxTop2Frac AND dup_frac <= $maxDupTokFrac) AS keep
              |FROM m ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val toks = split(col("text"), " ")
        val nTok = size(toks)
        // sequence(1, n-1) DESCENDS when n < 2 (Spark picks step -1); the
        // n_tok >= 2 filter keeps both engines on the ascending/empty page.
        val grams = transform(
          sequence(lit(1), nTok - 1),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1)))
        Tables(s, dir, "documents")
          .filter(col("doc_id") < 200 && nTok >= 2)
          .select(
            col("doc_id"), nTok.cast("long").as("n_tok"),
            (lit(1) - size(array_distinct(toks)) / nTok.cast("double"))
              .as("dup_raw"),
            explode(grams).as("gram"))
          .groupBy("doc_id", "gram")
          .agg(
            first("n_tok").as("n_tok"), first("dup_raw").as("dup_raw"),
            cnt.as("gram_cnt"))
          .groupBy("doc_id")
          .agg(
            first("n_tok").as("n_tok"), first("dup_raw").as("dup_raw"),
            (max("gram_cnt") / sum("gram_cnt").cast("double")).as("top2_raw"))
          .select(
            col("doc_id"), col("n_tok"),
            round(col("top2_raw"), 6).as("top2_frac"),
            round(col("dup_raw"), 6).as("dup_tok_frac"),
            (col("top2_raw") <= maxTop2Frac && col("dup_raw") <= maxDupTokFrac)
              .as("keep"))
          .oracleOrder("doc_id")
      }),

    // Weighted mixture sampling: per-source keep rates (upsampled "high
    // quality" sources at 100%, mid at 50%, tail at 20%) decided by the
    // same deterministic md5 bucket as the seeded split — membership is a
    // pure per-row map independent of partitioning or engine, so two runs
    // (or a 1000-executor run vs local[32]) select identical rows. Only
    // the `source` key shuffles for the report aggregate.
    Q(
      "corpus_mixture_sample",
      Some("""WITH d AS (
             |  SELECT source,
             |    CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':7'),1,15)) AS BIGINT)
             |      % 100 AS bucket,
             |    CASE WHEN source IN ('src0','src1','src2') THEN 100
             |         WHEN source IN ('src3','src4') THEN 50
             |         ELSE 20 END AS rate
             |  FROM documents)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
             |  CAST(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  ROUND(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END)
             |        / CAST(COUNT(*) AS DOUBLE), 6) AS kept_rate
             |FROM d GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val rate = when(col("source").isin("src0", "src1", "src2"), 100)
          .when(col("source").isin("src3", "src4"), 50)
          .otherwise(20)
        val kept = when(SeededSplit.bucket(col("doc_id"), 7) < rate, 1)
          .otherwise(0)
        Tables(s, dir, "documents")
          .select(col("source"), kept.as("kept"))
          .groupBy("source")
          .agg(
            cnt.as("n_total"),
            sum(col("kept")).cast("long").as("n_kept"),
            round(sum(col("kept")) / cnt.cast("double"), 6).as("kept_rate"))
          .oracleOrder("source")
      }),

    // Concat-and-chunk sequence packing (the GPT-style batch builder):
    // within each lang stream, docs ordered by doc_id fill fixed
    // 128-token training sequences back to back; a doc belongs to the pack
    // its first token lands in, and `n_split` counts docs straddling a
    // boundary. The cumsum window is PARTITIONED BY lang — per-shard
    // streams, never a global total order, which is what keeps this the
    // same plan at 100 TB (shard = lang here; a real build shards finer).
    Q(
      "seq_pack_chunks",
      Some(s"""WITH t AS (
              |  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok
              |  FROM documents),
              |c AS (
              |  SELECT lang, doc_id, n_tok,
              |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              |  FROM t)
              |SELECT lang,
              |  CAST(FLOOR((cum - n_tok) / $packBudget.0) AS BIGINT) AS pack_id,
              |  CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
              |  CAST(SUM(CASE WHEN FLOOR((cum - n_tok) / $packBudget.0)
              |                  <> FLOOR((cum - 1) / $packBudget.0)
              |           THEN 1 ELSE 0 END) AS BIGINT) AS n_split
              |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val startPack = floor((col("cum") - col("n_tok")) / packBudget.toDouble)
        val endPack = floor((col("cum") - 1) / packBudget.toDouble)
        Tables(s, dir, "documents")
          .select(
            col("lang"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
          .withColumn("cum", sum("n_tok").over(w))
          .groupBy(col("lang"), startPack.cast("long").as("pack_id"))
          .agg(
            cnt.as("n_docs"),
            sum("n_tok").cast("long").as("n_tokens"),
            sum(when(startPack =!= endPack, 1).otherwise(0)).cast("long")
              .as("n_split"))
          .oracleOrder("lang", "pack_id")
      }),

    // Greedy document-boundary-preserving packing — the OTHER packing
    // discipline (T5-style: a doc that does not fit the open pack closes
    // it; no straddling), via the custom whole-operator tier:
    // graft.plans.GreedyPack is a LogicalPlan node + SparkStrategy +
    // physical exec (one hash exchange + sort, then a single streaming
    // pass with O(1) fold state per partition). The fill state is a
    // sequential fold over each group's ordered stream — each row's pack
    // depends on every predecessor's DECISION, not just their values, so
    // no window function can express it; the oracle replays the fold as a
    // DuckDB recursive CTE.
    Q(
      "seq_pack_greedy_native",
      Some(s"""WITH RECURSIVE t AS (
              |  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok,
              |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
              |  FROM documents),
              |s AS (
              |  SELECT lang, rn, n_tok, 0 AS pack_id, n_tok AS fill
              |  FROM t WHERE rn = 1
              |  UNION ALL
              |  SELECT t.lang, t.rn, t.n_tok,
              |    CASE WHEN s.fill + t.n_tok > $packBudget
              |         THEN s.pack_id + 1 ELSE s.pack_id END,
              |    CASE WHEN s.fill + t.n_tok > $packBudget
              |         THEN t.n_tok ELSE s.fill + t.n_tok END
              |  FROM s JOIN t ON t.lang = s.lang AND t.rn = s.rn + 1)
              |SELECT lang, CAST(pack_id AS BIGINT) AS pack_id,
              |  CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
              |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) => {
        val t = Tables(s, dir, "documents")
          .select(
            col("lang"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
        graft.plans.GreedyPack
          .packed(t, packBudget, Seq("lang"), Seq("doc_id"), "n_tok")
          .groupBy("lang", "pack_id")
          .agg(cnt.as("n_docs"), sum("n_tok").cast("long").as("n_tokens"))
          .oracleOrder("lang", "pack_id")
      }),

    // Count-min sketch frequency estimation: the token stream folds into a
    // d×w = 4×64 cell grid (md5-derived row hashes, deterministic in both
    // engines); a key's estimate is the MIN over its d cells —
    // overestimates only, never under. THE bounded-state frequency design
    // at 100 TB: sketch state is w·d cells regardless of vocabulary size,
    // the cell shuffle is partial-aggregated, and sketches from shards
    // merge by cell-wise addition. Candidates (here the exact top-10)
    // probe the sketch; the report shows exact vs estimate vs overcount.
    Q(
      "agg_countmin_tokens",
      Some(s"""WITH tk AS (
              |  SELECT unnest(string_split(lower(text), ' ')) AS tok
              |  FROM documents),
              |r AS (SELECT unnest(range($cmsD)) AS r),
              |sk AS (
              |  SELECT r, CAST(('0x'||substr(md5(tok||':'||CAST(r AS VARCHAR)),1,15))
              |           AS BIGINT) % $cmsW AS bucket,
              |    CAST(COUNT(*) AS BIGINT) AS c
              |  FROM tk, r GROUP BY 1, 2),
              |top AS (
              |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact
              |  FROM tk GROUP BY tok ORDER BY exact DESC, tok LIMIT 10),
              |q AS (
              |  SELECT t.tok, t.exact, r.r,
              |    CAST(('0x'||substr(md5(t.tok||':'||CAST(r.r AS VARCHAR)),1,15))
              |      AS BIGINT) % $cmsW AS bucket
              |  FROM top t, r)
              |SELECT q.tok, q.exact, MIN(sk.c) AS cms_est,
              |  MIN(sk.c) - q.exact AS overcount
              |FROM q JOIN sk ON q.r = sk.r AND q.bucket = sk.bucket
              |GROUP BY q.tok, q.exact
              |ORDER BY q.exact DESC, q.tok""".stripMargin),
      (s, dir) => {
        def bucket(tok: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) =
          conv(
            substring(md5(concat(tok, lit(":"), r.cast("string"))), 1, 15),
            16, 10).cast("long") % cmsW
        // Count tokens FIRST, then hash: the sketch cell for (tok, r) gets
        // tok's full occurrence count in one increment, so the d md5
        // probes run once per DISTINCT token, not once per occurrence —
        // same cells, same counts, ~occurrence/vocabulary-fold less
        // hashing. Both the sketch and the top-k candidates read the same
        // token-frequency aggregate, so the tokenize+count exchange is
        // planned once and reused (ReuseExchange), not re-scanned.
        val tokFreq = Tables(s, dir, "documents")
          .select(explode(split(lower(col("text")), " ")).as("tok"))
          .groupBy("tok").agg(cnt.as("exact"))
        val rows = explode(sequence(lit(0), lit(cmsD - 1))).as("r")
        val sk = tokFreq.select(col("tok"), col("exact"), rows)
          .select(col("r"), bucket(col("tok"), col("r")).as("bucket"),
            col("exact"))
          .groupBy("r", "bucket")
          .agg(sum("exact").cast("long").as("c"))
        val top = tokFreq
          .orderBy(col("exact").desc, col("tok"))
          .limit(vocabK)
        val probes = top.select(col("tok"), col("exact"), rows)
          .select(
            col("tok"), col("exact"), col("r"),
            bucket(col("tok"), col("r")).as("bucket"))
        probes.join(broadcast(sk), Seq("r", "bucket"))
          .groupBy("tok", "exact")
          .agg(min("c").as("cms_est"))
          .select(
            col("tok"), col("exact"), col("cms_est"),
            (col("cms_est") - col("exact")).as("overcount"))
          .oracleOrder(col("exact").desc, col("tok"))
      }),

    // Misra-Gries heavy hitters — the deterministic-guarantee counterpart
    // of the count-min sketch: pass 1 runs a BOUNDED counter table
    // (mgCapacity entries, imperative decrement-on-overflow — the rare
    // legitimate mapPartitions case) inside each partition and emits only
    // surviving candidate tokens; pass 2 exactly counts candidates alone
    // (broadcast semi join — the fact stream never shuffles on token) and
    // keeps those above the n/mgK share. The MG pigeonhole makes the
    // candidate union a provable superset of every true heavy hitter, so
    // the confirmed output is partitioning-independent — which is what the
    // DuckDB oracle (plain HAVING over exact counts) checks. At 100 TB:
    // state is O(capacity) per task regardless of vocabulary, and only
    // |candidates| ≤ capacity × partitions keys reach the confirm join.
    Q(
      "agg_freq_items_misra_gries",
      Some(s"""WITH tk AS (
              |  SELECT unnest(string_split(lower(text), ' ')) AS tok
              |  FROM documents),
              |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tk),
              |f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM tk GROUP BY 1)
              |SELECT f.tok, f.n, ROUND(CAST(f.n AS DOUBLE) / t.total, 6) AS share
              |FROM f, t WHERE f.n * $mgK > t.total
              |ORDER BY f.n DESC, f.tok""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val cap = mgCapacity
        val k = mgK
        val toks = Tables(s, dir, "documents")
          .select(explode(split(lower(col("text")), " ")).as("tok"))
        val candidates = toks.as[String]
          .mapPartitions(graft.plans.MisraGries.candidates(_, cap))
          .toDF("tok").distinct()
        val total = toks.agg(cnt.as("total"))
        toks.join(broadcast(candidates), Seq("tok"), "left_semi")
          .groupBy("tok").agg(cnt.as("n"))
          .crossJoin(broadcast(total))
          .filter(col("n") * k > col("total"))
          .select(
            col("tok"), col("n"),
            round(col("n").cast("double") / col("total"), 6).as("share"))
          .oracleOrder(col("n").desc, col("tok"))
      }),

    // Epoch-weighted corpus upsampling — the other half of mixture
    // building: downsampling caps hot sources (corpus_cap_per_source),
    // upsampling REPLICATES scarce high-value sources by a declared
    // epoch recipe (the LLaMA-style "Wikipedia x3.3" table). Integer
    // epochs replicate every doc; the fractional remainder picks docs by
    // the deterministic md5 ppm draw (the A-ES/mixture convention), so
    // exactly frac of each source replicates one extra time,
    // reproducibly. The Spark side REALLY materializes the copies
    // (explode over sequence(1, n_copies) — the thing a training-data
    // writer ships); the oracle computes the same totals closed-form, so
    // a replication bug (off-by-one sequence bounds, lost fractional
    // draws) is a hash mismatch. Map-side explode then one groupBy on
    // ~|sources| keys: no shuffle grows with the copy factor.
    Q(
      "corpus_upsample_epochs",
      Some("""WITH r AS (
             |  SELECT doc_id, source,
             |    CAST(substr(source, 4) AS INT) AS si,
             |    1.0 + (CAST(substr(source, 4) AS INT) % 3)
             |        + 0.25 * (CAST(substr(source, 4) AS INT) % 2) AS epochs
             |  FROM documents),
             |d AS (
             |  SELECT source, epochs, CAST(floor(epochs) AS BIGINT) AS nfull,
             |    epochs - floor(epochs) AS frac,
             |    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ups'), 1, 15))
             |          AS BIGINT) % 1000000 + 1) / 1000001.0 AS u
             |  FROM r)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  ROUND(MIN(epochs), 2) AS declared_epochs,
             |  CAST(SUM(nfull + CASE WHEN u < frac THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_copies,
             |  ROUND(CAST(SUM(nfull + CASE WHEN u < frac THEN 1 ELSE 0 END)
             |             AS DOUBLE) / COUNT(*), 6) AS effective_epochs
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val si = substring(col("source"), 4, 10).cast("int")
        val epochs = (lit(1.0) + (si % 3) + lit(0.25) * (si % 2)).as("epochs")
        val u = ((conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":ups"))), 1, 15), 16, 10).cast("long") % 1000000 + 1)
          / 1000001.0).as("u")
        val copies = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), epochs, u)
          .select(
            col("doc_id"), col("source"), col("epochs"),
            (floor(col("epochs")).cast("long") +
              when(col("u") < col("epochs") - floor(col("epochs")), 1L)
                .otherwise(0L)).as("n_copies"))
          // The actual replication: one output row per epoch copy.
          .select(col("source"), col("epochs"),
            explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
        copies
          .groupBy("source")
          .agg(
            round(min("epochs"), 2).as("declared_epochs"),
            cnt.as("n_copies"))
          .join(
            Tables(s, dir, "documents").groupBy("source").agg(cnt.as("n_docs")),
            "source")
          .select(
            col("source"), col("n_docs"), col("declared_epochs"),
            col("n_copies"),
            round(col("n_copies").cast("double") / col("n_docs"), 6)
              .as("effective_epochs"))
          .oracleOrder("source")
      }),

    // Vocabulary build + OOV accounting: global top-k tokens by
    // (count DESC, token) become the dictionary; the corpus re-maps against
    // it and reports per-lang OOV rates. Token keys shuffle once for the
    // frequency count; the k-row dictionary is broadcast back — the
    // standard two-pass dictionary build whose second pass is map-side at
    // any scale.
    Q(
      "vocab_build_topk",
      Some(s"""WITH tk AS (
              |  SELECT lang, unnest(string_split(text, ' ')) AS tok
              |  FROM documents),
              |v AS (
              |  SELECT tok FROM (
              |    SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok
              |    ORDER BY c DESC, tok LIMIT $vocabK))
              |SELECT lang, CAST(COUNT(*) AS BIGINT) AS total_tok,
              |  CAST(SUM(CASE WHEN tok NOT IN (SELECT tok FROM v)
              |           THEN 1 ELSE 0 END) AS BIGINT) AS oov_tok,
              |  ROUND(SUM(CASE WHEN tok NOT IN (SELECT tok FROM v)
              |            THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
              |    AS oov_rate
              |FROM tk GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => {
        val tk = Tables(s, dir, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        val vocab = tk.groupBy("tok").agg(cnt.as("c"))
          .orderBy(col("c").desc, col("tok"))
          .limit(vocabK)
          .select(col("tok"), lit(true).as("in_vocab"))
        tk.join(broadcast(vocab), Seq("tok"), "left_outer")
          .groupBy("lang")
          .agg(
            cnt.as("total_tok"),
            sum(when(col("in_vocab").isNull, 1).otherwise(0)).cast("long")
              .as("oov_tok"),
            round(
              sum(when(col("in_vocab").isNull, 1).otherwise(0))
                / cnt.cast("double"), 6).as("oov_rate"))
          .oracleOrder("lang")
      }),

    // Benchmark decontamination — the eval-overlap scrub every serious
    // training-corpus build runs before training: drop (here: count)
    // training documents sharing any character 20-gram shingle with a
    // held-out evaluation set (eval = doc_id % 10 == 0, the benchmark
    // analog). Scale shape is the whole point: the eval set is tiny and
    // FIXED (benchmarks are MBs even when the corpus is 100 TB), so its
    // distinct gram set BROADCASTS and contamination detection is a
    // broadcast semi-join — the 100 TB training side never shuffles; its
    // grams are generated map-side, matched against the broadcast hash
    // relation, and reduced to one distinct doc_id set. (NOTE: the explicit
    // broadcast() hint below FORCES the broadcast regardless of
    // spark.sql.autoBroadcastJoinThreshold — correct here because eval sets
    // are fixed-size by construction; an eval side of unbounded size would
    // need the hint removed so AQE can fall back to a bloom prefilter +
    // shuffled semi-join instead of OOMing.) Same substring-shingle dialect
    // guard as dedup_ngram_jaccard: len >= gram width on both engines,
    // since Spark's sequence descends below the width while DuckDB's
    // range is empty. lang is COALESCE'd — a NULL group would diverge on
    // NULLS FIRST (Spark) vs NULLS LAST (DuckDB) ordering.
    Q(
      "decontaminate_ngram_overlap",
      Some("""WITH d AS (
             |  SELECT doc_id, COALESCE(lang, '??') AS lang, lower(text) AS tx
             |  FROM documents),
             |e AS (SELECT DISTINCT substr(tx, CAST(i AS INT), 20) AS gram
             |      FROM d, unnest(range(1, len(tx)-18)) r(i)
             |      WHERE doc_id % 10 = 0 AND len(tx) >= 20),
             |tg AS (SELECT DISTINCT doc_id, substr(tx, CAST(i AS INT), 20) AS gram
             |       FROM d, unnest(range(1, len(tx)-18)) r(i)
             |       WHERE doc_id % 10 <> 0 AND len(tx) >= 20),
             |c AS (SELECT DISTINCT tg.doc_id FROM tg JOIN e ON tg.gram = e.gram),
             |t AS (SELECT doc_id, lang FROM d WHERE doc_id % 10 <> 0)
             |SELECT t.lang, CAST(COUNT(*) AS BIGINT) AS n_train,
             |  CAST(COUNT(c.doc_id) AS BIGINT) AS n_contam,
             |  CAST(COUNT(c.doc_id) AS DOUBLE) / COUNT(*) AS contam_rate
             |FROM t LEFT JOIN c ON t.doc_id = c.doc_id
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("lang"), lit("??")).as("lang"),
            lower(col("text")).as("tx"))
        // Grams are xxhash64'd to longs BEFORE the join, so the broadcast
        // relation is a long set (8 bytes per eval gram instead of a
        // ~60-byte string), the probe is a long hash lookup, and the
        // training side stays map-side; only matched doc_ids shuffle (for
        // the distinct), a set bounded by the doc count, not the gram
        // count. graft_gram_hashes walks each doc's codepoint boundaries
        // once and emits the doc's DISTINCT gram hashes (the declarative
        // substring(tx, i, 20) form seeks from byte 0 per position —
        // O(L^2) byte scans per doc); the per-doc dedup it adds for free
        // changes nothing here, since both consumers only need existence.
        // Hash-compatible with stock xxhash64 by construction
        // (GramHashesSpec). Collision risk is the same negligible class
        // dedup_exact_hash accepts for md5 keys (~1e-8 at 1M grams); the
        // DuckDB oracle joins raw grams, so a collision that changed the
        // outcome would surface as a red row.
        def grams(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"),
            explode(call_function("graft_gram_hashes", col("tx"), lit(20)))
              .as("gram_h"))
        val evalGrams = grams(d.filter(col("doc_id") % 10 === 0))
          .select("gram_h").distinct()
        val contam = grams(d.filter(col("doc_id") % 10 =!= 0))
          .join(broadcast(evalGrams), Seq("gram_h"), "left_semi")
          .select("doc_id").distinct()
          .withColumn("hit", lit(1))
        d.filter(col("doc_id") % 10 =!= 0)
          .select("doc_id", "lang")
          .join(contam, Seq("doc_id"), "left_outer")
          .groupBy("lang")
          .agg(
            cnt.as("n_train"),
            count(col("hit")).cast("long").as("n_contam"),
            (count(col("hit")).cast("double") / count(lit(1))).as("contam_rate"))
          .oracleOrder("lang")
      }),

    // Per-source document cap — the "max N docs per domain" step every
    // production corpus build runs (C4/RefinedWeb-style domain balancing):
    // keep a deterministic UNIFORM sample of at most `capPerSource` docs
    // per source, not the top-N by any quality column (that is
    // dedup_pipeline_keep_best's job). Uniformity + determinism come from
    // ranking on md5(doc_id:seed) — the same engine-checkable hash family
    // as SeededSplit, so any two runs (or engines) keep identical rows.
    // Scale shape: ONE shuffle on source carrying (doc_id, 16-byte hash)
    // scalars only — the text never moves; the per-source window is a
    // streaming rank over the sorted run. A pathologically hot source
    // makes this window skew-bound, in which case pre-aggregated counts +
    // a per-source hash-threshold prefilter (two scans, no window) is the
    // escape hatch — documented, not needed at benchmark scales.
    Q(
      "corpus_cap_per_source",
      Some(s"""WITH r AS (
              |  SELECT doc_id, source,
              |    row_number() OVER (PARTITION BY source
              |      ORDER BY md5(CAST(doc_id AS VARCHAR)||':$capSeed'), doc_id)
              |      AS smp_rank
              |  FROM documents)
              |SELECT doc_id, source, CAST(smp_rank AS INT) AS smp_rank,
              |  CAST(smp_rank <= $capPerSource AS BOOLEAN) AS kept
              |FROM r ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("source")
          .orderBy(md5(concat(col("doc_id").cast("string"), lit(s":$capSeed"))),
            col("doc_id"))
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"))
          .withColumn("smp_rank", row_number().over(w).cast("int"))
          .select(col("doc_id"), col("source"), col("smp_rank"),
            (col("smp_rank") <= capPerSource).as("kept"))
          .oracleOrder("doc_id")
      }),

    // Per-language quality-quantile filtering (CCNet/RefinedWeb-style):
    // keep documents whose quality score clears their OWN language's p30 —
    // a per-lang calibrated gate, because absolute score thresholds favor
    // stopword-dense languages. The quantile is the rank-based empirical
    // one (row at ceil(q*n) in (score, doc_id) order) — the same
    // interpolation-free technique agg_median_quantile proved
    // cross-engine; the |langs|-row threshold table broadcasts back.
    // Scale shape: the per-lang window ranks (doc_id, score) SCALARS (the
    // text stays map-side in the scoring stage); at extreme per-lang
    // cardinalities the one-pass mergeable-sketch form (approx_percentile)
    // replaces the exact rank — documented escape hatch, not needed at
    // benchmark scale.
    Q(
      "corpus_quality_quantile_filter",
      Some(s"""WITH d AS (
              |  SELECT doc_id, COALESCE(lang, '??') AS lang, text FROM documents),
              |s AS (
              |  SELECT doc_id, lang,
              |    CAST(len(list_filter(string_split(text, ' '),
              |           t -> t IN ($stopsSql))) AS DOUBLE)
              |      / len(string_split(text, ' ')) AS score
              |  FROM d),
              |r AS (
              |  SELECT doc_id, lang, score,
              |    row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rn,
              |    count(*) OVER (PARTITION BY lang) AS n FROM s),
              |t AS (SELECT lang, score AS thr FROM r
              |      WHERE rn = CAST(greatest(1, ceil($qualityQ * n)) AS BIGINT))
              |SELECT r.doc_id, r.lang, ROUND(r.score, 6) AS q_score,
              |  ROUND(t.thr, 6) AS lang_thr, r.score >= t.thr AS kept
              |FROM r JOIN t ON r.lang = t.lang ORDER BY r.doc_id""".stripMargin),
      (s, dir) => {
        val scored = Tables(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("lang"), lit("??")).as("lang"),
            (size(filter(split(col("text"), " "),
              t => t.isInCollection(stops))).cast("double")
              / size(split(col("text"), " "))).as("score"))
        val wOrd = Window.partitionBy("lang").orderBy("score", "doc_id")
        val wAll = Window.partitionBy("lang")
        val ranked = scored
          .withColumn("rn", row_number().over(wOrd))
          .withColumn("n", count(lit(1)).over(wAll))
        val thr = ranked
          .filter(col("rn") ===
            greatest(lit(1L), ceil(lit(qualityQ) * col("n"))).cast("long"))
          .select(col("lang"), col("score").as("thr"))
        ranked.join(broadcast(thr), "lang")
          .select(col("doc_id"), col("lang"),
            round(col("score"), 6).as("q_score"),
            round(col("thr"), 6).as("lang_thr"),
            (col("score") >= col("thr")).as("kept"))
          .oracleOrder("doc_id")
      }),

    // Perplexity-based quality gating (CCNet-style): train a unigram LM
    // with add-one smoothing on a clean REFERENCE subset (the eval slice,
    // doc_id % 10 == 0 — same held-out convention as
    // decontaminate_ngram_overlap; CCNet trains its KenLM on Wikipedia),
    // then score every training doc by cross-entropy under that LM and
    // gate on a fixed ce threshold. The model is vocabTop rows:
    // p(tok) = (cnt+1)/(N+V+1) for the top-V reference tokens,
    // p(OOV) = 1/(N+V+1).
    //
    // Cross-engine determinism: ln() may differ between java.lang.Math and
    // libm in the last ulp, so log-probs are rounded to 9 dp IN THE MODEL
    // (only V+1 <= 65 DISTINCT values ever pass through ln — boundary
    // coincidence risk is nil, unlike rounding a per-doc ln) and stored as
    // DECIMAL(18,9); the per-doc sum of decimals is exact and
    // order-independent, so partial aggregation / shuffle order cannot
    // change the result, and ONE double division per doc ends the exact
    // pipeline. kept compares the unrounded division — identical IEEE
    // doubles both engines.
    //
    // Scale shape: the reference subset is fixed-size even at 100 TB, so
    // the trained LM is a broadcast dim (<= 65 rows); scoring is a
    // map-side explode + broadcast hash join + ONE partial-aggregated
    // shuffle of (doc_id, decimal) scalar cells — raw text never shuffles.
    Q(
      "corpus_perplexity_filter",
      Some(s"""WITH tok AS (
              |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
              |  FROM documents),
              |ref AS (SELECT tok FROM tok WHERE doc_id % 10 = 0),
              |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ref),
              |vocab AS (
              |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM ref
              |  GROUP BY tok ORDER BY c DESC, tok LIMIT $vocabTop),
              |vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
              |lp AS (
              |  SELECT tok,
              |    CAST(ROUND(ln((c + 1) / CAST(n + v + 1 AS DOUBLE)), 9)
              |         AS DECIMAL(18,9)) AS logp
              |  FROM vocab, nv, vv),
              |oov AS (
              |  SELECT CAST(ROUND(ln(1 / CAST(n + v + 1 AS DOUBLE)), 9)
              |              AS DECIMAL(18,9)) AS logp
              |  FROM nv, vv),
              |sc AS (
              |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
              |    SUM(COALESCE(lp.logp, (SELECT logp FROM oov))) AS s
              |  FROM tok t LEFT JOIN lp ON t.tok = lp.tok
              |  WHERE t.doc_id % 10 <> 0 GROUP BY t.doc_id)
              |SELECT doc_id, n_tok,
              |  ROUND(-CAST(s AS DOUBLE) / n_tok, 6) AS ce,
              |  (-CAST(s AS DOUBLE) / n_tok) <= $ceThreshold AS kept
              |FROM sc ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val tok = Tables(s, dir, "documents")
          .select(col("doc_id"),
            explode(split(lower(col("text")), " ")).as("tok"))
        val ref = Staged(s, dir, "pf_ref")(
          tok.filter(col("doc_id") % 10 === 0).select("tok"))
        val nv = ref.agg(cnt.as("n"))
        // Mid-query top-k, not presentation: orderBy+limit fuses into
        // TakeOrderedAndProject (per-partition partial top-k, merge of k
        // rows) — keep the true orderBy rather than oracleOrder's
        // single-partition funnel. Vocab is the gate's trained model —
        // staged once per (session, dir) like the other smoothing models.
        val vocab = Staged(s, dir, "pf_vocab") {
          ref.groupBy("tok").agg(cnt.as("c"))
            .orderBy(col("c").desc, col("tok")).limit(vocabTop)
        }
        val vv = vocab.agg(cnt.as("v"))
        val consts = nv.crossJoin(vv) // one (n, v) row
        val denom = (col("n") + col("v") + 1).cast("double")
        val lp = vocab.crossJoin(broadcast(consts))
          .select(col("tok"),
            round(log((col("c") + 1) / denom), 9)
              .cast(DecimalType(18, 9)).as("logp"))
        val oov = consts
          .select(round(log(lit(1.0) / denom), 9)
            .cast(DecimalType(18, 9)).as("oov_logp"))
        val ce = -(col("s").cast("double")) / col("n_tok")
        tok.filter(col("doc_id") % 10 =!= 0)
          .join(broadcast(lp), Seq("tok"), "left_outer")
          .crossJoin(broadcast(oov))
          .groupBy("doc_id")
          .agg(cnt.as("n_tok"),
            sum(coalesce(col("logp"), col("oov_logp"))).as("s"))
          .select(col("doc_id"), col("n_tok"),
            round(ce, 6).as("ce"),
            (ce <= ceThreshold).as("kept"))
          .oracleOrder("doc_id")
      }),

    // Bigram-backoff perplexity gating — the CCNet-grade upgrade of the
    // unigram filter above: the reference slice (doc_id % 10 == 0) trains
    // BOTH a top-V add-one unigram LM and a raw bigram conditional, and
    // each scored token pays ln of the INTERPOLATED probability
    // p(b|a) = λ·c(a,b)/n(a) + (1−λ)·p_uni(b) (λ=0.7; Jelinek-Mercer
    // backoff: unseen bigram or unseen prefix degrades smoothly to the
    // smoothed unigram; a document's first token is scored unigram-only).
    // A bigram LM separates templated from natural text far better than
    // unigram CE — the whole point of CCNet's KenLM stage.
    //
    // Determinism: same dialect as the unigram op — every ln is rounded
    // 9 dp and decimal-summed per doc (the distinct ln inputs are bounded
    // by the MODEL: |bigram table| + 2(V+1) values, never per-doc-unique),
    // one double division per doc closes the pipeline, and kept compares
    // that identical IEEE double against the fixed threshold.
    //
    // Scale shape: the reference slice is fixed-size, so the trained LM is
    // a model ARTIFACT — the pruned bigram table + V+1-row unigram table
    // broadcast to every executor (CCNet ships its KenLM the same way);
    // scoring is a map-side pair-struct explode (no corpus re-shuffle, no
    // array duplication) + three broadcast hash probes + ONE
    // partial-aggregated shuffle of (doc_id, decimal) cells.
    Q(
      "corpus_perplexity_bigram_filter",
      Some(s"""WITH d AS (
              |  SELECT doc_id, string_split(lower(text), ' ') AS ts
              |  FROM documents),
              |tok AS (
              |  SELECT doc_id, ts[CAST(i AS INT)] AS tok,
              |         CASE WHEN i > 1 THEN ts[CAST(i AS INT)-1] END AS prev
              |  FROM d, unnest(range(1, len(ts)+1)) r(i)),
              |ref AS (SELECT tok, prev FROM tok WHERE doc_id % 10 = 0),
              |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ref),
              |vocab AS (
              |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM ref
              |  GROUP BY tok ORDER BY c DESC, tok LIMIT $vocabTop),
              |vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
              |uni AS (
              |  SELECT tok, (c+1) / CAST(n+v+1 AS DOUBLE) AS pu
              |  FROM vocab, nv, vv),
              |oovp AS (SELECT 1 / CAST(n+v+1 AS DOUBLE) AS pu FROM nv, vv),
              |big AS (
              |  SELECT prev AS a, tok AS b, CAST(COUNT(*) AS BIGINT) AS cab
              |  FROM ref WHERE prev IS NOT NULL GROUP BY 1, 2),
              |pre AS (SELECT a, CAST(SUM(cab) AS BIGINT) AS na FROM big GROUP BY 1),
              |sc AS (
              |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
              |    SUM(CAST(ROUND(ln(
              |      CASE WHEN t.prev IS NULL
              |        THEN COALESCE(u.pu, (SELECT pu FROM oovp))
              |      ELSE 7e-1 * (COALESCE(big.cab, 0)
              |                   / CAST(COALESCE(pre.na, 1) AS DOUBLE))
              |           + 3e-1 * COALESCE(u.pu, (SELECT pu FROM oovp))
              |      END), 9) AS DECIMAL(18,9))) AS s
              |  FROM tok t
              |  LEFT JOIN uni u ON t.tok = u.tok
              |  LEFT JOIN big ON t.prev = big.a AND t.tok = big.b
              |  LEFT JOIN pre ON t.prev = pre.a
              |  WHERE t.doc_id % 10 <> 0 GROUP BY t.doc_id)
              |SELECT doc_id, n_tok,
              |  ROUND(-CAST(s AS DOUBLE) / n_tok, 6) AS ce,
              |  (-CAST(s AS DOUBLE) / n_tok) <= $bigramCeThreshold AS kept
              |FROM sc ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val tok = tokPrev(s, dir)
        // Same staged-model discipline as the Kneser-Ney gate below: the
        // reference slice is the SAME artifact (shared "kn_ref" key, one
        // hoisted build); the counted vocab and unfiltered bigram counts
        // are this gate's own.
        val ref = knRef(s, dir)
        val nv = ref.agg(cnt.as("n"))
        val vocab = Staged(s, dir, "pbf_vocab") {
          ref.groupBy("tok").agg(cnt.as("c"))
            .orderBy(col("c").desc, col("tok")).limit(vocabTop)
        }
        val vv = vocab.agg(cnt.as("v"))
        val consts = nv.crossJoin(vv)
        val denom = (col("n") + col("v") + 1).cast("double")
        val uni = vocab.crossJoin(broadcast(consts))
          .select(col("tok").as("utok"), ((col("c") + 1) / denom).as("pu"))
        val oovp = consts.select((lit(1.0) / denom).as("oov_pu"))
        val big = Staged(s, dir, "pbf_big") {
          ref.filter(col("prev").isNotNull)
            .groupBy(col("prev").as("a"), col("tok").as("b"))
            .agg(cnt.as("cab"))
        }
        val pre = big.groupBy("a").agg(sum("cab").cast("long").as("na"))
        val puni = coalesce(col("pu"), col("oov_pu"))
        val pInterp = lit(0.7) *
          (coalesce(col("cab"), lit(0L)).cast("double") /
            coalesce(col("na"), lit(1L)).cast("double")) +
          lit(0.3) * puni
        val ce = -(col("s").cast("double")) / col("n_tok")
        tok.filter(col("doc_id") % 10 =!= 0)
          .join(broadcast(uni), col("tok") === col("utok"), "left_outer")
          .join(broadcast(big),
            col("prev") === col("a") && col("tok") === col("b"), "left_outer")
          .join(broadcast(pre.withColumnRenamed("a", "pa")),
            col("prev") === col("pa"), "left_outer")
          .crossJoin(broadcast(oovp))
          .groupBy("doc_id")
          .agg(cnt.as("n_tok"),
            sum(round(log(when(col("prev").isNull, puni).otherwise(pInterp)), 9)
              .cast(DecimalType(18, 9))).as("s"))
          .select(col("doc_id"), col("n_tok"),
            round(ce, 6).as("ce"),
            (ce <= bigramCeThreshold).as("kept"))
          .oracleOrder("doc_id")
      }),

    // Kneser-Ney perplexity gate — the third LM-smoothing family next to
    // add-one unigram and Jelinek-Mercer interpolation, and the one real
    // n-gram toolkits default to (Chen & Goodman 1999; KenLM): interpolated
    // KN with absolute discount D = 0.75 over the in-vocabulary bigram
    // table, p(b|a) = (max(c(a,b)−D, 0) + D·N1+(a,·)·p_cont(b)) / c(a·),
    // where the continuation probability p_cont(b) ∝ how many DISTINCT
    // prefixes b follows (add-one smoothed over the distinct-bigram count
    // so an in-vocab token that never appears as a continuation cannot
    // produce ln 0). Unseen prefixes back off to p_cont; OOV tokens take
    // the unigram gate's 1/(n+v+1) floor. All model artifacts (vocab,
    // bigram counts, prefix totals + distinct-continuation fans,
    // continuation fans) are fixed-size BROADCAST tables trained on the
    // reference slice; scoring is the same map-side pair-struct explode +
    // broadcast probes + one partial-aggregated (doc_id, decimal) shuffle
    // as the JM gate. ln rounds 9dp into DECIMAL (distinct ln inputs
    // bounded by the model, the perplexity-dialect requirement).
    Q(
      "corpus_perplexity_kneser_ney",
      Some(s"""WITH d AS (
              |  SELECT doc_id, string_split(lower(text), ' ') AS ts
              |  FROM documents),
              |tok AS (
              |  SELECT doc_id, ts[CAST(i AS INT)] AS tok,
              |         CASE WHEN i > 1 THEN ts[CAST(i AS INT)-1] END AS prev
              |  FROM d, unnest(range(1, len(ts)+1)) r(i)),
              |ref AS (SELECT tok, prev FROM tok WHERE doc_id % 10 = 0),
              |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ref),
              |vocab AS (
              |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM ref
              |  GROUP BY tok ORDER BY c DESC, tok LIMIT $vocabTop),
              |vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
              |big AS (
              |  SELECT r.prev AS a, r.tok AS b, CAST(COUNT(*) AS BIGINT) AS cab
              |  FROM ref r JOIN vocab va ON r.prev = va.tok
              |             JOIN vocab vb ON r.tok = vb.tok
              |  GROUP BY 1, 2),
              |pre AS (
              |  SELECT a, CAST(SUM(cab) AS BIGINT) AS na,
              |    CAST(COUNT(*) AS BIGINT) AS n1a
              |  FROM big GROUP BY 1),
              |cont AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cc FROM big GROUP BY 1),
              |ntv AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntot FROM big),
              |sc AS (
              |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
              |    SUM(CAST(ROUND(ln(
              |      CASE WHEN vb.tok IS NULL THEN 1 / CAST(n+v+1 AS DOUBLE)
              |        WHEN t.prev IS NULL OR pre.na IS NULL
              |          THEN (COALESCE(cont.cc, 0) + 1) / CAST(ntot + v AS DOUBLE)
              |        ELSE (GREATEST(CAST(COALESCE(big.cab, 0) AS DOUBLE) - 75e-2, 0e0)
              |              + 75e-2 * pre.n1a
              |                * ((COALESCE(cont.cc, 0) + 1) / CAST(ntot + v AS DOUBLE)))
              |             / pre.na
              |      END), 9) AS DECIMAL(18,9))) AS s
              |  FROM tok t
              |  LEFT JOIN vocab vb ON t.tok = vb.tok
              |  LEFT JOIN big ON t.prev = big.a AND t.tok = big.b
              |  LEFT JOIN pre ON t.prev = pre.a
              |  LEFT JOIN cont ON t.tok = cont.b
              |  CROSS JOIN nv CROSS JOIN vv CROSS JOIN ntv
              |  WHERE t.doc_id % 10 <> 0 GROUP BY t.doc_id)
              |SELECT doc_id, n_tok,
              |  ROUND(-CAST(s AS DOUBLE) / n_tok, 6) AS ce,
              |  (-CAST(s AS DOUBLE) / n_tok) <= $knCeThreshold AS kept
              |FROM sc ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val tok = tokPrev(s, dir)
        // Model tables MATERIALIZE once per (session, dir) via [[Staged]]
        // (a few hundred rows each): vocab is probed twice and `big` fans
        // out to three derived tables — without the checkpoint each
        // reference re-runs the corpus explode (this was the bench's worst
        // row at 2.7 s; the JM gate's single-reference tables don't need
        // it). They are pure functions of the reference corpus slice — the
        // smoothing model a production perplexity gate trains once and
        // scores with thereafter — so later invocations read the staging.
        val ref = knRef(s, dir)
        val nv = ref.agg(cnt.as("n"))
        val vocab = Staged(s, dir, "kn_vocab") {
          ref.groupBy("tok").agg(cnt.as("c"))
            .orderBy(col("c").desc, col("tok")).limit(vocabTop)
            .select(col("tok"))
        }
        val vv = vocab.agg(cnt.as("v"))
        val big = Staged(s, dir, "kn_big") {
          ref
            .join(broadcast(vocab.select(col("tok").as("va"))), col("prev") === col("va"))
            .join(broadcast(vocab.select(col("tok").as("vbt"))), col("tok") === col("vbt"))
            .groupBy(col("prev").as("a"), col("tok").as("b"))
            .agg(cnt.as("cab"))
        }
        val pre = big.groupBy("a")
          .agg(sum("cab").cast("long").as("na"), cnt.as("n1a"))
        val cont = big.groupBy("b").agg(cnt.as("cc"))
        val ntv = big.agg(cnt.as("ntot"))
        val consts = nv.crossJoin(vv).crossJoin(ntv)
        val pCont = (coalesce(col("cc"), lit(0L)) + 1) /
          (col("ntot") + col("v")).cast("double")
        val pKn = (greatest(coalesce(col("cab"), lit(0L)).cast("double") -
            knDiscount, lit(0.0)) +
          lit(knDiscount) * col("n1a") * pCont) / col("na")
        val p = when(col("vb").isNull,
            lit(1.0) / (col("n") + col("v") + 1).cast("double"))
          .when(col("prev").isNull || col("na").isNull, pCont)
          .otherwise(pKn)
        val ce = -(col("s").cast("double")) / col("n_tok")
        tok.filter(col("doc_id") % 10 =!= 0)
          .join(broadcast(vocab.select(col("tok").as("vb"))),
            col("tok") === col("vb"), "left_outer")
          .join(broadcast(big),
            col("prev") === col("a") && col("tok") === col("b"), "left_outer")
          .join(broadcast(pre.withColumnRenamed("a", "pa")),
            col("prev") === col("pa"), "left_outer")
          .join(broadcast(cont.withColumnRenamed("b", "cb")),
            col("tok") === col("cb"), "left_outer")
          .crossJoin(broadcast(consts))
          .groupBy("doc_id")
          .agg(cnt.as("n_tok"),
            sum(round(log(p), 9).cast(DecimalType(18, 9))).as("s"))
          .select(col("doc_id"), col("n_tok"),
            round(ce, 6).as("ce"),
            (ce <= knCeThreshold).as("kept"))
          .oracleOrder("doc_id")
      }),

    // Token-budget source mixing (the Llama/GPT data-mixing recipe): each
    // source gets a TOKEN budget proportional to its declared mixture
    // weight, and is down-sampled to it deterministically. Differs from
    // `corpus_mixture_sample` (fixed per-source DOC keep rates): here the
    // rate is DERIVED — rate_s = min(1, B·w_s / tokens_s) with B = 50% of
    // corpus tokens — so a source's rate adapts to how many tokens it
    // actually has, and over-weighted small sources cap at keep-all.
    // Scale shape: pass 1 shuffles only (source, n_tok) scalars for the
    // per-source token totals; the |sources|-row rate table broadcasts back
    // and pass 2 is a map-side probe + one partial-aggregated scalar
    // shuffle (same two-pass stats-then-apply shape as vocab_build_topk).
    // The keep decision is the md5-bucket hash (SeededSplit family, ‰
    // granularity) — per-row deterministic, partition-invariant.
    Q(
      "corpus_token_budget_mix",
      Some(s"""WITH d AS (
              |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
              |    CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':$mixSeed'),1,15))
              |      AS BIGINT) % 1000 AS bucket
              |  FROM documents),
              |s AS (
              |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |    CAST(SUM(n_tok) AS BIGINT) AS t_src,
              |    CASE WHEN source IN ('src0','src1') THEN 0.20
              |         WHEN source IN ('src2','src3','src4','src5') THEN 0.06
              |         WHEN source IN ('src6','src7','src8','src9') THEN 0.04
              |         ELSE 0.02 END AS w
              |  FROM d GROUP BY source),
              |tot AS (SELECT CAST(SUM(t_src) AS BIGINT) AS t_total FROM s),
              |r AS (
              |  SELECT source, n_docs, t_src,
              |    CAST(FLOOR(1000.0 * LEAST(1.0, 0.5 * t_total * w / t_src))
              |      AS INT) AS rate_pm
              |  FROM s, tot)
              |SELECT d.source, r.n_docs, r.t_src AS tok_total,
              |  CAST(SUM(CASE WHEN d.bucket < r.rate_pm THEN d.n_tok ELSE 0 END)
              |    AS BIGINT) AS tok_kept,
              |  r.rate_pm
              |FROM d JOIN r ON d.source = r.source
              |GROUP BY d.source, r.n_docs, r.t_src, r.rate_pm
              |ORDER BY d.source""".stripMargin),
      (s, dir) => {
        val w = when(col("source").isin("src0", "src1"), 0.20)
          .when(col("source").isin("src2", "src3", "src4", "src5"), 0.06)
          .when(col("source").isin("src6", "src7", "src8", "src9"), 0.04)
          .otherwise(0.02)
        val d = Tables(s, dir, "documents").select(
          col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          (conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(s":$mixSeed"))), 1, 15), 16, 10).cast("long") % 1000)
            .as("bucket"))
        val perSrc = d.groupBy("source")
          .agg(cnt.as("n_docs"), sum("n_tok").cast("long").as("t_src"))
          .withColumn("w", w)
        val tot = perSrc.agg(sum("t_src").cast("long").as("t_total"))
        val rates = perSrc.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("t_src"),
            floor(lit(1000.0) * least(lit(1.0),
              lit(0.5) * col("t_total") * col("w") / col("t_src")))
              .cast("int").as("rate_pm"))
        d.join(broadcast(rates), Seq("source"))
          .groupBy("source", "n_docs", "t_src", "rate_pm")
          .agg(sum(when(col("bucket") < col("rate_pm"), col("n_tok"))
            .otherwise(0L)).cast("long").as("tok_kept"))
          .select(col("source"), col("n_docs"), col("t_src").as("tok_total"),
            col("tok_kept"), col("rate_pm"))
          .oracleOrder("source")
      }),

    // Weighted reservoir sampling (Efraimidis–Spirakis A-ES): keep the
    // top-3 docs per source by the key ln(u)/w with u ~ U(0,1] and
    // w = n_chars, which draws each doc with probability proportional to
    // its weight — the quality/length-weighted subsample every mixture
    // build wants, in ONE distributed pass with no global sort and no
    // sequential reservoir. u is the SeededSplit md5 family at ppm
    // granularity, so the "random" draw is a pure per-row map: any two
    // runs, partitionings, or engines agree row for row, and the oracle
    // can replay it. Per-source top-3 is a rank window over (key, doc_id)
    // scalars — the text never shuffles. Cross-engine float policy: the
    // ranking key is ROUND(·,12) with doc_id tie-break (ln ulp skew is
    // ~1e-16 relative, far below the 1e-12 grid), per the perplexity
    // filter's round-before-compare precedent.
    Q(
      "sample_weighted_reservoir",
      Some("""WITH k AS (
             |  SELECT source, doc_id,
             |    ROUND(ln((CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':77'),1,15)) AS BIGINT)
             |              % 1000000 + 1) / 1000001.0) / n_chars, 12) AS r
             |  FROM documents),
             |rk AS (
             |  SELECT source, doc_id, r,
             |    row_number() OVER (PARTITION BY source ORDER BY r DESC, doc_id) AS rnk
             |  FROM k)
             |SELECT source, rnk, doc_id, r FROM rk WHERE rnk <= 3
             |ORDER BY source, rnk""".stripMargin),
      (s, dir) => {
        // ppm-granularity uniform from the md5 bucket family
        // (SeededSplit.bucket is the %100 coarse twin): first 60 bits of
        // md5("doc_id:77") → [0, 1e6) → u ∈ (0, 1).
        val h = conv(
          substring(md5(concat(col("doc_id").cast("string"), lit(":77"))), 1, 15),
          16, 10).cast("long") % 1000000L
        val u = (h + 1) / lit(1000001.0)
        val rnk = Window.partitionBy("source")
          .orderBy(col("r").desc, col("doc_id"))
        Tables(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            round(log(u) / col("n_chars"), 12).as("r"))
          .withColumn("rnk", row_number().over(rnk))
          .filter(col("rnk") <= 3)
          .select(col("source"), col("rnk"), col("doc_id"), col("r"))
          .oracleOrder("source", "rnk")
      }),

    // Semantic decontamination — the embedding-space sibling of
    // `decontaminate_ngram_overlap`: flag any corpus vector whose cosine
    // to SOME held-out eval vector reaches 0.30 (paraphrases and
    // translations that n-gram overlap misses). The eval set is
    // fixed-size by construction (vec_id < 20 — benchmarks don't grow
    // with the corpus), so it broadcasts at any scale and the corpus side
    // is a map-only argmax-over-20 fold: the only shuffle is the
    // per-vector (cos, eid) scalar pair into the max_by groupBy — same
    // shape as semAssign/IVF assignment. Cosine is the native fused
    // expression (`functions/CosineSim.scala`), ROUND 6 per the
    // sim-family float policy; ties on max_cos resolve to the smallest
    // eval id on both engines.
    Q(
      "decontaminate_semantic_embed",
      Some(s"""WITH ev AS (SELECT vec_id AS eid, embedding AS ee
              |           FROM embeddings WHERE vec_id < 20),
              |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
              |p AS (
              |  SELECT c.vec_id, ev.eid,
              |    ROUND(list_sum(list_transform(list_zip(c.embedding, ev.ee),
              |            z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
              |      / (sqrt(list_sum(list_transform(c.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
              |       * sqrt(list_sum(list_transform(ev.ee, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS cos
              |  FROM c, ev),
              |m AS (SELECT vec_id, MAX(cos) AS max_cos FROM p GROUP BY vec_id)
              |SELECT m.vec_id, MIN(p.eid) AS eval_id, m.max_cos,
              |  m.max_cos >= $semThreshold AS contaminated
              |FROM m JOIN p ON p.vec_id = m.vec_id AND p.cos = m.max_cos
              |GROUP BY m.vec_id, m.max_cos
              |ORDER BY m.vec_id""".stripMargin),
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val ev = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("eid"), col("embedding").as("ee"))
        val c = e.filter(col("vec_id") >= 20)
          .select(col("vec_id"), col("embedding"))
        // argmax as a partial-aggregating struct-max (cos asc, then
        // SMALLEST eid on ties via the negated id), never a window: each
        // vector's 20 candidates fold map-side, one scalar row shuffles.
        c.crossJoin(broadcast(ev))
          .select(col("vec_id"), col("eid"),
            round(call_function("graft_cosine", col("embedding"), col("ee")), 6)
              .as("cos"))
          .groupBy("vec_id")
          .agg(max(struct(col("cos"), (-col("eid")).as("nid"))).as("b"))
          .select(col("vec_id"),
            (-col("b.nid")).cast("long").as("eval_id"),
            col("b.cos").as("max_cos"),
            (col("b.cos") >= semThreshold).as("contaminated"))
          .oracleOrder("vec_id")
      }),

    // Sliding context windows with overlap (window 32, stride 24 → 8-token
    // overlap): the context-window chunking step between packing and
    // batching — every token is covered, the last window truncates at the
    // doc boundary. `sequence()` + explode generates the start offsets
    // IN-PLAN (no driver loop, no UDF), so a 100 TB corpus fans out to
    // chunk rows inside the same narrow map stage that read it: zero
    // shuffles end to end (the presentation sort is oracle-only). The
    // window's first token is read back by offset from the split array —
    // chunk payload slicing is `slice(toks, start+1, len)`, elided here to
    // keep the oracle row scalar-only (SURVEY §7.3 rule 6).
    Q(
      "seq_sliding_context",
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks,
             |                  len(string_split(text,' ')) AS n_tok
             |           FROM documents WHERE doc_id < 100),
             |s AS (SELECT doc_id, n_tok, toks,
             |        unnest(generate_series(0, n_tok-1, 24)) AS start_tok FROM t),
             |w AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
             |        CAST(start_tok AS BIGINT) AS start_tok,
             |        CAST(LEAST(32, n_tok - start_tok) AS BIGINT) AS win_len,
             |        toks[start_tok + 1] AS first_tok
             |      FROM s)
             |SELECT doc_id,
             |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_tok)
             |       AS INT) AS win_idx,
             |  start_tok, win_len, first_tok, n_tok
             |FROM w ORDER BY doc_id, start_tok""".stripMargin),
      (s, dir) => {
        val winLen = 32
        val stride = 24
        // win_idx is ARITHMETIC (start/stride + 1), not a row_number window:
        // the generated starts are exactly 0, stride, 2*stride, …, so the
        // rank is derivable in the same map stage — this keeps the whole
        // operator shuffle-free (the oracle's row_number yields identical
        // values).
        Tables(s, dir, "documents")
          .filter(col("doc_id") < 100)
          .select(
            col("doc_id"), split(col("text"), " ").as("toks"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
          .select(
            col("doc_id"), col("n_tok"), col("toks"),
            explode(sequence(
              lit(0L), col("n_tok") - 1, lit(stride.toLong))).as("start_tok"))
          .select(
            col("doc_id"),
            (col("start_tok") / stride + 1).cast("int").as("win_idx"),
            col("start_tok"),
            least(lit(winLen.toLong), col("n_tok") - col("start_tok"))
              .as("win_len"),
            element_at(col("toks"), (col("start_tok") + 1).cast("int"))
              .as("first_tok"),
            col("n_tok"))
          .oracleOrder("doc_id", "start_tok")
      }),

    // Differentially-private (source, lang) cell-count release: Laplace
    // noise with scale b = 2 (sensitivity 1 / ε = 0.5) via the inverse-CDF
    // transform of a DETERMINISTIC uniform draw — the polynomial hash of
    // the cell key (the text_rolling_hash fold) mapped to u ∈ (−½, ½)
    // strictly (the +0.5/2^20 offset keeps ln's argument > 0), then
    // noise = −b·sign(u)·ln(1−2|u|). The deterministic draw is the
    // standard test-harness seeding of a DP release (a production release
    // swaps ONLY the uniform for a real RNG); cells whose noisy count
    // falls below the release threshold are suppressed-flagged, not
    // dropped, so the output schema is stable. ln follows the
    // perplexity-gate dialect: only |cells| ≤ ~100 DISTINCT values pass
    // through it, each rounded 9dp (boundary-coincidence risk nil), and
    // the rest of the pipeline is identical IEEE arithmetic — no terminal
    // rounding. Scale shape: one grouped count (map-side partials) + a
    // per-cell scalar transform; nothing grows with the corpus.
    Q(
      "curation_dp_count_laplace",
      Some("""WITH c AS (
             |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM documents GROUP BY source, lang),
             |h AS (
             |  SELECT source, lang, n,
             |    list_reduce(
             |      list_prepend(7::BIGINT,
             |        list_transform(split(source || '|' || lang, ''), x -> ascii(x)::BIGINT)),
             |      (acc, x) -> (acc * 31 + x) % 2147483647) AS hv
             |  FROM c),
             |u AS (
             |  SELECT source, lang, n,
             |    ((hv % 1048575) + 0.5) / 1048576.0 - 0.5 AS uu
             |  FROM h),
             |z AS (
             |  SELECT source, lang, n,
             |    -2.0 * (CASE WHEN uu >= 0 THEN 1.0 ELSE -1.0 END)
             |      * ROUND(ln(1.0 - 2.0 * abs(uu)), 9) AS noise
             |  FROM u)
             |SELECT source, lang,
             |  CAST(n AS DOUBLE) + noise AS noisy_n,
             |  (CAST(n AS DOUBLE) + noise) < 5.0 AS suppressed
             |FROM z ORDER BY source, lang""".stripMargin),
      (s, dir) => {
        val key = concat(col("source"), lit("|"), col("lang"))
        val hv = aggregate(
          transform(split(key, ""), x => ascii(x).cast("long")),
          lit(7L),
          (acc, x) => (acc * 31 + x) % 2147483647L)
        val uu = ((hv % 1048575L) + 0.5) / 1048576.0 - 0.5
        val noise = lit(-2.0) *
          when(col("uu") >= 0, 1.0).otherwise(-1.0) *
          round(log(lit(1.0) - lit(2.0) * abs(col("uu"))), 9)
        Tables(s, dir, "documents")
          .groupBy("source", "lang")
          .agg(cnt.as("n"))
          .withColumn("uu", uu)
          .select(col("source"), col("lang"),
            (col("n").cast("double") + noise).as("noisy_n"))
          .withColumn("suppressed", col("noisy_n") < 5.0)
          .oracleOrder("source", "lang")
      }),

    // Corpus-distribution DRIFT gate — Population Stability Index between
    // the published snapshot and the new crawl batch (the incremental-
    // bloom doc_id%5 split) over fixed-width n_chars bins: the data-
    // quality monitor a recurring-crawl pipeline runs BEFORE admitting a
    // batch (PSI < 0.1 stable / 0.1-0.25 drifting / > 0.25 shifted — the
    // credit-scoring convention). Laplace-smoothed bin shares (+1/+B)
    // keep empty bins finite without dropping them.
    //
    // Exactness: bin counts are integer GROUP BYs; p and q are single
    // int/int double divisions of identical operands (bit-equal cross-
    // engine); each (q−p)·ln(q/p) term is ROUND 9dp then DECIMAL-summed
    // (the chi-squared discipline ⇒ shuffle-order-free), PSI closes
    // ROUND 6dp. Scale shape: two grouped folds to B=10-row bin tables
    // (map-side partials — one row per bin shuffles), a broadcast
    // full-outer bin join + one broadcast 1-row totals product; nothing
    // after the folds grows with the corpus.
    Q(
      "curation_quality_drift_psi",
      Some(s"""WITH d AS (
             |  SELECT doc_id % 5 = 4 AS is_new,
             |    least(${PsiBins - 1}, n_chars // $PsiBinWidth) AS bin
             |  FROM documents),
             |r AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_ref
             |      FROM d WHERE NOT is_new GROUP BY 1),
             |w AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_new
             |      FROM d WHERE is_new GROUP BY 1),
             |j AS (
             |  SELECT COALESCE(r.bin, w.bin) AS bin,
             |    COALESCE(n_ref, 0) AS n_ref, COALESCE(n_new, 0) AS n_new
             |  FROM r FULL OUTER JOIN w ON r.bin = w.bin),
             |t AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tot_ref,
             |             CAST(SUM(n_new) AS BIGINT) AS tot_new FROM j),
             |terms AS (
             |  SELECT bin, n_ref, n_new,
             |    CAST(ROUND(
             |      (CAST(n_new + 1 AS DOUBLE) / (tot_new + $PsiBins)
             |        - CAST(n_ref + 1 AS DOUBLE) / (tot_ref + $PsiBins))
             |      * ln((CAST(n_new + 1 AS DOUBLE) / (tot_new + $PsiBins))
             |           / (CAST(n_ref + 1 AS DOUBLE) / (tot_ref + $PsiBins))), 9)
             |      AS DECIMAL(18,9)) AS term
             |  FROM j, t)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
             |  CAST(SUM(n_ref) AS BIGINT) AS n_ref,
             |  CAST(SUM(n_new) AS BIGINT) AS n_new,
             |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi
             |FROM terms""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d = Tables(s, dir, "documents")
          .select((col("doc_id") % 5 === 4).as("is_new"),
            least(lit(PsiBins - 1),
              expr(s"n_chars div $PsiBinWidth")).as("bin"))
        val r = d.filter(!col("is_new")).groupBy("bin").agg(cnt.as("n_ref"))
        val w = d.filter(col("is_new")).groupBy("bin")
          .agg(cnt.as("n_new"))
          .withColumnRenamed("bin", "wbin")
        val j = r.join(w, col("bin") === col("wbin"), "full_outer")
          .select(coalesce(col("bin"), col("wbin")).as("bin"),
            coalesce(col("n_ref"), lit(0L)).as("n_ref"),
            coalesce(col("n_new"), lit(0L)).as("n_new"))
        val t = j.agg(sum("n_ref").cast("long").as("tot_ref"),
          sum("n_new").cast("long").as("tot_new"))
        val q = (col("n_new") + 1).cast("double") / (col("tot_new") + PsiBins)
        val p = (col("n_ref") + 1).cast("double") / (col("tot_ref") + PsiBins)
        j.crossJoin(broadcast(t))
          .select(col("n_ref"), col("n_new"),
            round((q - p) * log(q / p), 9).cast(DecimalType(18, 9)).as("term"))
          .agg(cnt.as("n_bins"),
            sum("n_ref").cast("long").as("n_ref"),
            sum("n_new").cast("long").as("n_new"),
            round(sum("term").cast("double"), 6).as("psi"))
      }),

    // HTML boilerplate strip — the FIRST transform every real web-crawl
    // corpus build runs (C4/RefinedWeb-style pipelines lead with it), and
    // the markup generalization of the reference's crash-free dirty-input
    // cleaning pass (`trainer/flax_model.py:79-95`). Each document is
    // wrapped in a deterministic page shell (head/style/script, nav,
    // footer) and recovered by a strip chain shared VERBATIM with the
    // DuckDB oracle: (1) drop <script>/<style> blocks wholesale — the
    // pattern is a plain alternation, NOT a backreference, so it runs
    // identically under Java regex and DuckDB's RE2 (RE2 has no backrefs);
    // (2) block-close tags become newlines so the page decomposes into
    // lines; (3) strip remaining tags to spaces; (4) decode entities;
    // (5) collapse whitespace. The keep flag is the classic boilerplate
    // LINE-DENSITY heuristic: chars on short (<30-char) lines are chrome
    // (nav items, page title, footer), chars on long lines are content; a
    // page passes when content chars are >= 85% of the stripped total
    // (both outcomes occur at every test sf: 314/186 at sf0.001, 306/194
    // at sf0.01, 2952/2048 at sf0.1). The gate compares pure integers
    // (content*100 >= 85*total) so the cross-engine verdict never touches
    // a float; content_frac is display-only. md5(clean) pins the full
    // stripped text without shipping it through the diff. Scale shape:
    // ZERO shuffle — a codegen'd regexp/replace chain plus one
    // fixed-depth line fold per row, then only the presentation sort; at
    // 100 TB this runs as a pure map stage at input parallelism.
    Q(
      "text_html_boilerplate_strip",
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
             |    '</title><style>body{margin:0}</style><script>var t=' ||
             |    CAST(doc_id AS VARCHAR) || ';track(t);</script></head><body>' ||
             |    '<nav><ul><li>Home</li><li>Docs</li><li>About</li></ul></nav>' ||
             |    '<div id="main"><p>' || text || '</p></div>' ||
             |    '<footer>&copy; 2026 ' || source ||
             |    ' &middot; <a href="/privacy">Privacy</a></footer></body></html>'
             |      AS html
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, html,
             |    trim(regexp_replace(regexp_replace(regexp_replace(
             |      replace(replace(
             |        regexp_replace(regexp_replace(regexp_replace(html,
             |          '<script[^>]*>.*?</script>|<style[^>]*>.*?</style>',
             |          '', 'g'),
             |          '</(title|li|ul|nav|p|div|footer)>', chr(10), 'g'),
             |          '<[^>]*>', ' ', 'g'),
             |        '&copy;', '(c)'), '&middot;', '-'),
             |      ' +', ' ', 'g'),
             |      ' *' || chr(10) || ' *', chr(10), 'g'),
             |      chr(10) || '+', chr(10), 'g'), ' ' || chr(10)) AS clean
             |  FROM h),
             |m AS (
             |  SELECT doc_id,
             |    CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT)
             |      AS n_tags,
             |    CAST(COALESCE(list_sum(list_transform(list_filter(
             |      string_split(clean, chr(10)), l -> len(l) >= 30),
             |      l -> len(l))), 0) AS BIGINT) AS content_chars,
             |    CAST(COALESCE(list_sum(list_transform(list_filter(
             |      string_split(clean, chr(10)), l -> len(l) < 30),
             |      l -> len(l))), 0) AS BIGINT) AS boiler_chars,
             |    md5(clean) AS clean_md5
             |  FROM c)
             |SELECT doc_id, n_tags, content_chars, boiler_chars,
             |  ROUND(CAST(content_chars AS DOUBLE)
             |    / (content_chars + boiler_chars), 4) AS content_frac,
             |  content_chars * 100 >= 85 * (content_chars + boiler_chars)
             |    AS keep,
             |  clean_md5
             |FROM m ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.Column
        val id = col("doc_id").cast("string")
        val html = concat(
          lit("<html><head><title>Doc "), id,
          lit("</title><style>body{margin:0}</style><script>var t="), id,
          lit(";track(t);</script></head><body>"),
          lit("<nav><ul><li>Home</li><li>Docs</li><li>About</li></ul></nav>"),
          lit("<div id=\"main\"><p>"), col("text"), lit("</p></div>"),
          lit("<footer>&copy; 2026 "), col("source"),
          lit(" &middot; <a href=\"/privacy\">Privacy</a>" +
            "</footer></body></html>"))
        def strip(h: Column): Column = trim(
          regexp_replace(regexp_replace(regexp_replace(
            replace(replace(
              regexp_replace(regexp_replace(regexp_replace(h,
                "<script[^>]*>.*?</script>|<style[^>]*>.*?</style>", ""),
                "</(title|li|ul|nav|p|div|footer)>", "\n"),
                "<[^>]*>", " "),
              lit("&copy;"), lit("(c)")), lit("&middot;"), lit("-")),
            " +", " "),
            " *\n *", "\n"),
            "\n+", "\n"), " \n")
        val ls = split(col("clean"), "\n")
        def lineChars(p: Column => Column): Column = aggregate(
          filter(ls, l => p(length(l))),
          lit(0L), (acc, l) => acc + length(l).cast("long"))
        Tables(s, dir, "documents")
          .select(col("doc_id"), html.as("html"))
          .withColumn("clean", strip(col("html")))
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("html"), lit("<[^>]*>"), lit(0)))
              .cast("long").as("n_tags"),
            lineChars(_ >= 30).as("content_chars"),
            lineChars(_ < 30).as("boiler_chars"),
            md5(col("clean")).as("clean_md5"))
          .withColumn("content_frac",
            round(col("content_chars").cast("double") /
              (col("content_chars") + col("boiler_chars")), 4))
          .withColumn("keep",
            col("content_chars") * 100 >=
              (col("content_chars") + col("boiler_chars")) * 85)
          .oracleOrder("doc_id")
      }))

  /** PSI drift-gate geometry: fixed-width n_chars bins (bin =
    * min(PsiBins-1, n_chars div PsiBinWidth)) — fixed-width keeps both
    * engines' binning a single integer division (a quantile binning
    * would be the equi-depth row's two-pass shape; PSI over fixed bins
    * is standard practice for bounded metrics).
    */
  private val PsiBins = 10
  private val PsiBinWidth = 200

  /** Per-source cap + its sampling seed for `corpus_cap_per_source`. */
  private val capPerSource = 15
  private val capSeed = 17

  /** Quality-filter quantile for `corpus_quality_quantile_filter`. */
  private val qualityQ = 0.3

  /** Unigram-LM size and cross-entropy gate for `corpus_perplexity_filter`
    * (threshold = the ~median ce of the synthetic corpus — 3.40/3.41/3.40
    * at sf0.001/0.01/0.1 — so both outcomes occur at every scale).
    */
  private val vocabTop = 64

  /** Kneser-Ney absolute discount and gate threshold (chosen to keep the
    * mid-quality band at sf0.001, same protocol as the other LM gates).
    */
  private val knDiscount = 0.75
  private val knCeThreshold = 3.60
  private val ceThreshold = 3.41

  /** Bigram-backoff CE gate — sits at the cross-sf median (3.41-3.50), so
    * the filter splits meaningfully at every test scale.
    */
  private val bigramCeThreshold = 3.45

  /** Sampling seed for `corpus_token_budget_mix` (md5-bucket family). */
  private val mixSeed = 21

  /** Cosine gate for `decontaminate_semantic_embed` (~p90 of the corpus's
    * max-eval-cosine at sf0.01, so both outcomes occur at every scale).
    */
  private val semThreshold = 0.30

  private def stops = TextAnalysis.stops
  private def stopsSql = TextAnalysis.stopsSql

  /** Map-side (doc_id, tok, prev) token-bigram stream over documents —
    * transform-to-struct BEFORE the explode so the token array is never
    * duplicated per position. Shared by the perplexity gates.
    */
  private def tokPrev(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ts)), i ->
          |  struct(ts[i-1] AS tok,
          |         CASE WHEN i > 1 THEN ts[i-2] END AS prev))"""
          .stripMargin)).as("p"))
      .select(col("doc_id"), col("p.tok").as("tok"), col("p.prev").as("prev"))

  /** The ONE build of the staged "kn_ref" reference slice (ADVICE r17) —
    * the held-in 1-in-10 doc sample's (tok, prev) stream, shared by the
    * Kneser-Ney and bigram-backoff perplexity gates. Exactly one build
    * expression per staged key: inline copies could silently drift apart
    * under an edit, with execution-order-dependent results.
    */
  private def knRef(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Staged(s, dir, "kn_ref")(tokPrev(s, dir).filter(col("doc_id") % 10 === 0))
}
