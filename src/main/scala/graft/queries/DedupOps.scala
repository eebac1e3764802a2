package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.Fns._
import graft.functions.{MinHash, MinHashParams}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.K — near-duplicate detection for LLM-corpus curation:
  * MinHash+LSH banding, SimHash, and character-n-gram Jaccard.
  *
  * Reference analog: the reference dedups/aligns examples by *positional*
  * identity (`read_example` requires matching npz keys,
  * `trainer/flax_model.py:62-66`); a 100 TB text corpus needs *content*
  * identity instead. All three schemes here avoid the O(n²) doc×doc cross
  * product: MinHash shuffles k=16 longs per doc and joins only within LSH
  * band buckets; SimHash reduces each doc to one 32-bit word before pairing;
  * n-gram Jaccard joins through the inverted gram index.
  *
  * Determinism: token/gram hashes are the first 15 hex chars of md5 cast to
  * BIGINT — `conv(..,16,10)` on the Spark side, `('0x'||..)::BIGINT` in
  * DuckDB — so both engines compute bit-identical signatures; every
  * intermediate stays < 2^62 (exact in signed 64-bit).
  */
object DedupOps extends QueryPack {
  import MinHashParams._

  /** 60-bit deterministic token hash, identical in both engines. */
  private def tokHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private val duckTokHash = "CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT)"

  /** The distinct (doc_id, tok) pairs of the first `maxDoc` documents.
    * Tokens are deduplicated per document row (`array_distinct` before the
    * explode), not by a `distinct` over the exploded pairs, so no shuffle
    * forms. That equals the oracles' `SELECT DISTINCT doc_id, tok` only
    * while `doc_id` is unique in `documents`, which holds at every scale
    * of the test data (500 of 500, 500 of 500 and 5000 of 5000 at sf0.001,
    * sf0.01 and sf0.1).
    */
  private def tokens(s: SparkSession, dir: String, maxDoc: Int): DataFrame =
    Tables(s, dir, "documents")
      .filter(col("doc_id") < maxDoc)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))

  // ---- MinHash oracle-SQL fragments, generated from MinHashParams ----
  private val mhMins = (0 until NumHashes)
    .map(i => s"MIN((${a(i)}*hm + ${b(i)}) % $P) AS m$i").mkString(", ")
  private val mhBands = (0 until NumBands).map { bd =>
    val cols = (0 until RowsPerBand).map(r => s"m${RowsPerBand * bd + r}").mkString(", ")
    s"SELECT doc_id, $bd AS b, md5(concat_ws(',', $cols)) AS bkey FROM sig"
  }.mkString("\n  UNION ALL ")
  private val mhMatch = (0 until NumHashes)
    .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)").mkString(" + ")

  def queries: Seq[Q] = Seq(
    // MinHash signatures + LSH banding (4 bands x 4 rows): candidate pairs
    // are docs sharing >= 1 band key; estimated Jaccard = matching minima /16.
    Q(
      "dedup_minhash_lsh",
      Some(s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
              |t AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS tok FROM d),
              |h AS (SELECT doc_id, $duckTokHash % $P AS hm FROM t),
              |sig AS (SELECT doc_id, $mhMins FROM h GROUP BY doc_id),
              |bands AS ($mhBands),
              |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
              |         FROM bands x JOIN bands y
              |           ON x.bkey = y.bkey AND x.b = y.b AND x.doc_id < y.doc_id),
              |est AS (SELECT cand.da, cand.db, ROUND(($mhMatch)/16.0, 6) AS est_jaccard
              |        FROM cand JOIN sig sa ON cand.da = sa.doc_id
              |                  JOIN sig sb ON cand.db = sb.doc_id)
              |SELECT da, db, est_jaccard FROM est
              |ORDER BY est_jaccard DESC, da, db LIMIT 50""".stripMargin),
      (s, dir) => {
        val h = tokens(s, dir, 200)
          .select(col("doc_id"), (tokHash(col("tok")) % P).as("hm"))
        val minCols = (0 until NumHashes)
          .map(i => min((col("hm") * a(i) + b(i)) % P).as(s"m$i"))
        // Lineage cut (r21): sig is referenced SIX times (4 band legs + the
        // sa/sb confirm sides) and the pruned copies don't all reuse one
        // exchange — each re-ran the token scan + 16-min fold. The table is
        // slice-bounded (|docs| rows), so one materialization feeds all six.
        val sig = h.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
          .localCheckpoint()
        val bands = (0 until NumBands).map { bd =>
          sig.select(
            col("doc_id"), lit(bd).as("b"),
            md5(concat_ws(",",
              (0 until RowsPerBand)
                .map(r => col(s"m${RowsPerBand * bd + r}").cast("string")): _*))
              .as("bkey"))
        }.reduce(_ unionAll _)
        val cand = bands.as("x")
          .join(bands.as("y"),
            col("x.bkey") === col("y.bkey") && col("x.b") === col("y.b") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
          .distinct()
        val sa = sig.select(
          col("doc_id").as("da") +:
            (0 until NumHashes).map(i => col(s"m$i").as(s"am$i")): _*)
        val sb = sig.select(
          col("doc_id").as("db") +:
            (0 until NumHashes).map(i => col(s"m$i").as(s"bm$i")): _*)
        val matches = (0 until NumHashes)
          .map(i => when(col(s"am$i") === col(s"bm$i"), 1).otherwise(0))
          .reduce(_ + _)
        cand.join(sa, "da").join(sb, "db")
          .select(col("da"), col("db"),
            round(matches / lit(16.0), 6).as("est_jaccard"))
          .orderBy(col("est_jaccard").desc, col("da"), col("db"))
          .limit(50)
      }),

    // 32-bit SimHash: per-doc signed bit-vote over token hashes; near-dups =
    // pairs within Hamming distance (bit_count of xor). One word per doc
    // crosses the shuffle — the cheapest near-dup sketch at corpus scale.
    // Pairing is pigeonhole-banded, NOT all-pairs: the 32-bit signature
    // splits into 4 disjoint 8-bit bands; any pair within Hamming <= 3 has
    // at most 3 corrupted bands, so it MUST agree exactly on >= 1 band.
    // Candidates come from an equi-join on (band_idx, band_value) — the band
    // value is the shuffle/partition key at 100 TB and no doc x doc product
    // ever forms (no-BNLJ plan-asserted in PlanShapeSpec). Result = top-50
    // nearest candidate pairs by exact Hamming recheck.
    Q(
      "dedup_simhash", {
        val bits = (0 until 32)
          .map(j => s"SUM(2*((hm >> $j) & 1) - 1) AS s$j").mkString(", ")
        val sh = (0 until 32)
          .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
          .mkString(" + ")
        Some(s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
                |t AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS tok FROM d),
                |h AS (SELECT doc_id, $duckTokHash AS hm FROM t),
                |b AS (SELECT doc_id, $bits FROM h GROUP BY doc_id),
                |s AS (SELECT doc_id, CAST($sh AS BIGINT) AS simhash FROM b),
                |bands AS (SELECT doc_id, simhash, CAST(i AS INT) AS band,
                |            (simhash >> CAST(8*i AS INT)) & 255 AS bv
                |          FROM s, unnest(range(0, 4)) AS r(i)),
                |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
                |           x.simhash AS ha, y.simhash AS hb
                |         FROM bands x JOIN bands y
                |           ON x.band = y.band AND x.bv = y.bv
                |          AND x.doc_id < y.doc_id)
                |SELECT da, db,
                |  CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
                |FROM cand ORDER BY hamming, da, db LIMIT 50""".stripMargin)
      },
      (s, dir) => {
        val h = tokens(s, dir, 200)
          .select(col("doc_id"), tokHash(col("tok")).as("hm"))
        val bitSums = (0 until 32).map(j =>
          sum(shiftright(col("hm"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$j"))
        val b = h.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
        val simhash = (0 until 32)
          .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _)
        val sdf = b.select(col("doc_id"), simhash.cast("long").as("simhash"))
        val bandArr = array((0 until 4).map(i =>
          struct(lit(i).as("band"),
            shiftright(col("simhash"), 8 * i).bitwiseAND(lit(255L)).as("bv"))): _*)
        val bands = sdf
          .select(col("doc_id"), col("simhash"), explode(bandArr).as("bb"))
          .select(col("doc_id"), col("simhash"),
            col("bb.band").as("band"), col("bb.bv").as("bv"))
        bands.as("x")
          .join(bands.as("y"),
            col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
            col("x.simhash").as("ha"), col("y.simhash").as("hb"))
          .distinct()
          .select(col("da"), col("db"),
            bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int").as("hamming"))
          .orderBy(col("hamming"), col("da"), col("db"))
          .limit(50)
      }),

    // Character 5-gram (shingle) Jaccard through the inverted gram index —
    // word-order-sensitive near-dup, complements token-set Jaccard
    // (`dedup_jaccard_pairs`).
    Q(
      "dedup_ngram_jaccard",
      Some("""WITH d AS (SELECT doc_id, lower(text) AS tx FROM documents WHERE doc_id < 100),
             |g AS (SELECT DISTINCT doc_id, substr(tx, CAST(i AS INT), 5) AS gram
             |      FROM d, unnest(range(1, len(tx)-3)) AS r(i)),
             |sz AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY 1),
             |inter AS (SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS i
             |          FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id
             |          GROUP BY 1, 2)
             |SELECT da, db,
             |  ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
             |FROM inter JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
             |ORDER BY jaccard DESC, da, db LIMIT 20""".stripMargin),
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .filter(col("doc_id") < 100)
          .select(col("doc_id"), lower(col("text")).as("tx"))
        // graft_grams walks each doc's codepoint boundaries once (the
        // declarative substring(tx, i, 5) form seeks from byte 0 per
        // position — O(L^2) byte scans per doc) and yields no grams for
        // sub-5-char docs, matching DuckDB's empty range(1, len-3).
        val g = d
          .select(col("doc_id"),
            explode(call_function("graft_grams", col("tx"), lit(5))).as("gram"))
          .distinct()
        val sz = g.groupBy("doc_id").agg(cnt.as("sz"))
        val inter = g.as("x")
          .join(g.as("y"),
            col("x.gram") === col("y.gram") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
          .agg(cnt.as("i"))
        val jac = col("i").cast("double") / (col("sa") + col("sb") - col("i"))
        inter
          .join(sz.select(col("doc_id").as("da"), col("sz").as("sa")), "da")
          .join(sz.select(col("doc_id").as("db"), col("sz").as("sb")), "db")
          .select(col("da"), col("db"), round(jac, 6).as("jaccard"))
          .orderBy(round(jac, 6).desc, col("da"), col("db"))
          .limit(20)
      }),

    // Asymmetric gram CONTAINMENT |G(a) ∩ G(b)| / |G(a)| — the near-dup
    // signal Jaccard dilutes: a short doc pasted inside a much longer one
    // scores ~1 here but near 0 on Jaccard (union is dominated by the big
    // doc). The production pair of this exact baseline is the same
    // banded-MinHash candidate generation as dedup_minhash_lsh (containment
    // needs only |G(a)| and the intersection, both available on candidate
    // pairs); the exact form is id-capped like dedup_ngram_jaccard and
    // shares its one-pass gram generator and inverted-index self-join —
    // both DIRECTED pairs (a→b and b→a) emerge from one undirected join
    // probe since the intersection is symmetric and only the denominator
    // differs.
    Q(
      "dedup_gram_containment",
      Some("""WITH d AS (SELECT doc_id, lower(text) AS tx FROM documents WHERE doc_id < 100),
             |g AS (SELECT DISTINCT doc_id, substr(tx, CAST(i AS INT), 5) AS gram
             |      FROM d, unnest(range(1, len(tx)-3)) AS r(i)),
             |sz AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY 1),
             |inter AS (SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS i
             |          FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id
             |          GROUP BY 1, 2),
             |directed AS (
             |  SELECT da, db, CAST(i AS DOUBLE) / sa.sz AS containment
             |  FROM inter JOIN sz sa ON da = sa.doc_id
             |  UNION ALL
             |  SELECT db AS da, da AS db, CAST(i AS DOUBLE) / sb.sz AS containment
             |  FROM inter JOIN sz sb ON db = sb.doc_id)
             |SELECT da, db, ROUND(containment, 6) AS containment
             |FROM directed
             |ORDER BY containment DESC, da, db LIMIT 20""".stripMargin),
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .filter(col("doc_id") < 100)
          .select(col("doc_id"), lower(col("text")).as("tx"))
        val g = d
          .select(col("doc_id"),
            explode(call_function("graft_grams", col("tx"), lit(5))).as("gram"))
          .distinct()
        val sz = g.groupBy("doc_id").agg(cnt.as("sz"))
        val inter = g.as("x")
          .join(g.as("y"),
            col("x.gram") === col("y.gram") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
          .agg(cnt.as("i"))
        val fromA = inter
          .join(sz.select(col("doc_id").as("da"), col("sz").as("sa")), "da")
          .select(col("da"), col("db"),
            (col("i").cast("double") / col("sa")).as("containment"))
        val fromB = inter
          .join(sz.select(col("doc_id").as("db"), col("sz").as("sb")), "db")
          .select(col("db").as("da"), col("da").as("db"),
            (col("i").cast("double") / col("sb")).as("containment"))
        fromA.union(fromB)
          .select(col("da"), col("db"), round(col("containment"), 6).as("containment"))
          .orderBy(col("containment").desc, col("da"), col("db"))
          .limit(20)
      }),

    // Cross-document EXACT-substring dedup via sorted-shingle RUNS — the
    // exact sibling of `dedup_gram_containment`'s approximate containment
    // and the pairwise completion of `dedup_repeated_spans` (ExactSubstr,
    // Lee et al. 2021): the length of the longest VERBATIM substring two
    // documents share, found relationally. A shared substring of C chars
    // is exactly a run of C-19 consecutive positionally-aligned 20-gram
    // matches, so: positioned shingles (posexplode over the one-pass
    // graft_grams generator — the relational stand-in for a suffix-array
    // sort), exact-string equi-join (the "sorted shingle run": grams
    // colliding across docs land in one shuffle bucket, the distributed
    // twin of adjacent suffix-array entries), then gaps-and-islands per
    // (pair, position-offset): within a fixed diagonal del = ia - jb the
    // matched positions ia are unique, so ia - row_number() is constant
    // exactly on consecutive runs. max(run)+19 = longest shared substring
    // in CHARS; n_runs counts distinct shared spans. All-integer (tie-free
    // ordering by (chars DESC, da, db)). Scale shape: nothing but
    // (gram, doc, pos) tuples shuffle — the gram key is the partitioner,
    // exactly how a production suffix-shingle index shards; the slice cap
    // is the per-LSH-cluster candidate discipline every pairwise dedup row
    // uses, and the diagonal windows run on bounded per-pair match sets.
    Q(
      "dedup_exact_substring_runs",
      Some("""WITH d AS (SELECT doc_id, lower(text) AS tx FROM documents WHERE doc_id < 150),
             |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, substr(tx, CAST(i AS INT), 20) AS gram
             |      FROM d, unnest(range(1, len(tx)-18)) r(i) WHERE len(tx) >= 20),
             |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS ia, a.pos - b.pos AS del
             |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
             |r AS (SELECT da, db, del, ia,
             |        ia - row_number() OVER (PARTITION BY da, db, del ORDER BY ia) AS grp
             |      FROM m),
             |runs AS (SELECT da, db, del, grp, CAST(COUNT(*) + 19 AS BIGINT) AS run_chars
             |         FROM r GROUP BY 1, 2, 3, 4),
             |pairs AS (SELECT da, db, MAX(run_chars) AS max_run_chars,
             |            CAST(COUNT(*) AS BIGINT) AS n_runs
             |          FROM runs GROUP BY 1, 2)
             |SELECT da, db, max_run_chars, n_runs FROM pairs
             |ORDER BY max_run_chars DESC, da, db LIMIT 30""".stripMargin),
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .filter(col("doc_id") < 150)
          .select(col("doc_id"), lower(col("text")).as("tx"))
          .filter(length(col("tx")) >= 20)
        // posexplode's 0-based pos vs the oracle's 1-based i: the diagonal
        // del and the island key ia - row_number() are both invariant to a
        // per-doc constant shift, so no +1 correction is needed.
        val g = d
          .select(col("doc_id"),
            posexplode(call_function("graft_grams", col("tx"), lit(20))))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            col("col").as("gram"))
        val m = g
          .select(col("doc_id").as("da"), col("pos").as("ia"), col("gram"))
          .join(
            g.select(col("doc_id").as("db"), col("pos").as("jb"),
              col("gram").as("gram_b")),
            col("gram") === col("gram_b") && col("da") < col("db"))
          .select(col("da"), col("db"), col("ia"),
            (col("ia") - col("jb")).as("del"))
        val wIsl = Window.partitionBy("da", "db", "del").orderBy("ia")
        val runs = m
          .withColumn("grp", col("ia") - row_number().over(wIsl))
          .groupBy("da", "db", "del", "grp")
          .agg((cnt + 19L).as("run_chars"))
        runs.groupBy("da", "db")
          .agg(max("run_chars").as("max_run_chars"), cnt.as("n_runs"))
          .orderBy(col("max_run_chars").desc, col("da"), col("db"))
          .limit(30)
      }),

    // End-to-end curation: cluster by content fingerprint, KEEP the
    // highest-quality doc per cluster (quality = the text_quality_score
    // formula), drop the rest — the actual corpus-dedup step a training
    // pipeline runs, composing fingerprinting + quality scoring + windowed
    // argmax. Only the 16-byte fingerprint and the scalar score shuffle.
    Q(
      "dedup_pipeline_keep_best",
      Some("""WITH scored AS (
             |  SELECT doc_id, lang,
             |    md5(array_to_string(list_sort(list_distinct(
             |      string_split(lower(text), ' '))), ' ')) AS fp,
             |    0.3 * least(1.0, len(string_split(text, ' ')) / 100.0)
             |      + 0.4 * (len(list_filter(string_split(text, ' '),
             |                 t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')))
             |               / len(string_split(text, ' ')))
             |      + 0.3 * (1 - length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
             |               / length(text)) AS quality
             |  FROM documents),
             |ranked AS (
             |  SELECT *, row_number() OVER (PARTITION BY fp
             |                               ORDER BY quality DESC, doc_id) AS rn
             |  FROM scored)
             |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
             |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val toks = split(col("text"), " ")
        val nTok = size(toks).cast("long")
        val stops = Seq("the", "a", "of", "and", "to", "in", "is", "it")
        val quality =
          lit(0.3) * least(lit(1.0), nTok / 100.0) +
            lit(0.4) * (size(filter(toks, t => t.isInCollection(stops))).cast("long") / nTok) +
            lit(0.3) * (lit(1) -
              length(regexp_replace(lower(col("text")), "[a-z0-9 ]", "")) /
                length(col("text")))
        val fp = md5(array_join(array_sort(array_distinct(
          split(lower(col("text")), " "))), " "))
        val w = Window.partitionBy("fp").orderBy(col("quality").desc, col("doc_id"))
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), fp.as("fp"), quality.as("quality"))
          .withColumn("rn", row_number().over(w))
          .groupBy("lang")
          .agg(
            cnt.as("n_docs"),
            sum(when(col("rn") === 1, 1L).otherwise(0L)).cast("long").as("n_kept"),
            sum(when(col("rn") > 1, 1L).otherwise(0L)).cast("long").as("n_removed"))
          .oracleOrder("lang")
      }),

    // The WHOLE curation pipeline a training-data build runs, composed in
    // one declarative query: language filter -> minimum-length dropna ->
    // quality scoring -> quality threshold -> content-fingerprint dedup
    // keeping the best-scoring duplicate -> seeded 90/10 train/test split
    // -> per-split corpus stats. Every stage is per-row or keyed on a
    // 16-byte fingerprint / scalar split key: raw text never shuffles, so
    // the same plan holds at corpus scale. Each stage reuses the exact
    // formula of its standalone query (quality = text_quality_score, split
    // = ml_train_test_split, keep-best = dedup_pipeline_keep_best).
    Q(
      "corpus_curation_end2end",
      Some("""WITH scored AS (
             |  SELECT doc_id,
             |    len(string_split(text, ' ')) AS n_tok,
             |    md5(array_to_string(list_sort(list_distinct(
             |      string_split(lower(text), ' '))), ' ')) AS fp,
             |    0.3 * least(1.0, len(string_split(text, ' ')) / 100.0)
             |      + 0.4 * (len(list_filter(string_split(text, ' '),
             |                 t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')))
             |               / len(string_split(text, ' ')))
             |      + 0.3 * (1 - length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
             |               / length(text)) AS quality
             |  FROM documents WHERE lang = 'en' AND n_chars > 50),
             |q AS (SELECT * FROM scored WHERE quality >= 0.5),
             |ranked AS (
             |  SELECT *, row_number() OVER (PARTITION BY fp
             |                               ORDER BY quality DESC, doc_id) AS rn
             |  FROM q),
             |kept AS (SELECT * FROM ranked WHERE rn = 1),
             |sp AS (SELECT *,
             |  CASE WHEN CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':42'),1,15)) AS BIGINT)
             |         % 100 < 90
             |       THEN 'train' ELSE 'test' END AS split
             |  FROM kept)
             |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  ROUND(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
             |    AS avg_quality,
             |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens
             |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val toks = split(col("text"), " ")
        val nTok = size(toks).cast("long")
        val stops = Seq("the", "a", "of", "and", "to", "in", "is", "it")
        val quality =
          lit(0.3) * least(lit(1.0), nTok / 100.0) +
            lit(0.4) * (size(filter(toks, t => t.isInCollection(stops))).cast("long") / nTok) +
            lit(0.3) * (lit(1) -
              length(regexp_replace(lower(col("text")), "[a-z0-9 ]", "")) /
                length(col("text")))
        val fp = md5(array_join(array_sort(array_distinct(
          split(lower(col("text")), " "))), " "))
        val w = Window.partitionBy("fp").orderBy(col("quality").desc, col("doc_id"))
        Tables(s, dir, "documents")
          .filter(col("lang") === "en" && col("n_chars") > 50)
          .select(col("doc_id"), nTok.as("n_tok"), fp.as("fp"), quality.as("quality"))
          .filter(col("quality") >= 0.5)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .withColumn("split", graft.ml.SeededSplit.assign(col("doc_id"), 42L))
          .groupBy("split")
          .agg(
            cnt.as("n_docs"),
            round(dsum(col("quality")) / cnt, 6).as("avg_quality"),
            sum("n_tok").cast("long").as("total_tokens"))
          .oracleOrder("split")
      }),

    // The transitive-closure step a real corpus dedup ends with: near-dup
    // PAIRS (top-30 5-gram Jaccard edges) are only locally pairwise — if
    // A~B and B~C, all three are one duplicate cluster even when A~C was
    // never scored. Connected components via iterative min-label
    // propagation: each round every node takes the min label among itself
    // and its neighbors (two equi-joins + a min-aggregate — all keyed on
    // doc_id, no driver-side graph), until a fixpoint; converges in
    // O(component diameter) rounds. The DuckDB oracle computes the same
    // components exactly with a recursive-CTE reachability closure, so the
    // fixpoint itself is oracle-checked. At 100 TB the edge list is the
    // (bounded) output of the LSH/banding stages and each round is one
    // shuffle on doc_id.
    Q(
      "dedup_cc_clusters",
      Some("""WITH RECURSIVE
             |d AS (SELECT doc_id, lower(text) AS tx FROM documents WHERE doc_id < 100),
             |g AS (SELECT DISTINCT doc_id, substr(tx, CAST(i AS INT), 5) AS gram
             |      FROM d, unnest(range(1, len(tx)-3)) AS r(i)),
             |sz AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY 1),
             |inter AS (SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS i
             |          FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id
             |          GROUP BY 1, 2),
             |e AS (SELECT da, db FROM inter
             |      JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
             |      ORDER BY CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) DESC, da, db
             |      LIMIT 30),
             |nodes AS (SELECT da AS doc FROM e UNION SELECT db FROM e),
             |reach(src, dst) AS (
             |  SELECT doc, doc FROM nodes
             |  UNION
             |  SELECT r.src, CASE WHEN e.da = r.dst THEN e.db ELSE e.da END
             |  FROM reach r JOIN e ON r.dst = e.da OR r.dst = e.db),
             |comp AS (SELECT src AS doc, MIN(dst) AS comp FROM reach GROUP BY 1)
             |SELECT comp AS rep_doc, CAST(COUNT(*) AS BIGINT) AS csize
             |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .filter(col("doc_id") < 100)
          .select(col("doc_id"), lower(col("text")).as("tx"))
        // Same one-pass gram generator as dedup_ngram_jaccard (graft_grams
        // yields nothing for sub-5-char docs, matching DuckDB's empty range).
        val g = d
          .select(col("doc_id"),
            explode(call_function("graft_grams", col("tx"), lit(5))).as("gram"))
          .distinct()
        val sz = g.groupBy("doc_id").agg(cnt.as("sz"))
        val jac = col("i").cast("double") / (col("sa") + col("sb") - col("i"))
        // The candidate near-dup edge list is the artifact the banding /
        // candidate-generation stage of a production dedup emits ONCE; the
        // CC iteration below is the per-run query. Staged per
        // (session, dir) — checkpointed, so the per-round loop optimizes a
        // constant-size tree (the old .cache() kept full lineage).
        val e = Staged(s, dir, "ccl_edges") {
          g.as("x")
            .join(g.as("y"),
              col("x.gram") === col("y.gram") && col("x.doc_id") < col("y.doc_id"))
            .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
            .agg(cnt.as("i"))
            .join(sz.select(col("doc_id").as("da"), col("sz").as("sa")), "da")
            .join(sz.select(col("doc_id").as("db"), col("sz").as("sb")), "db")
            .orderBy(jac.desc, col("da"), col("db"))
            .limit(30)
            .select(col("da"), col("db"))
        }
        // localCheckpoint (not cache) each round: caching keeps the full
        // logical lineage, which triples per round here (labels referenced
        // three times) and blows up the analyzer; checkpointing truncates
        // the plan so every round optimizes a constant-size tree.
        // Partitioning is a FUNCTION OF |edges|, not a constant: the label
        // relation is at most 2x|edges| rows, so size it at ~100k label
        // rows per partition (capped at the session shuffle parallelism).
        // 30 demo edges -> 1 partition (no 32-task scheduling overhead);
        // a 100M-edge real near-dup list -> full parallelism.
        val edgeCount = e.count() // scans the staged checkpoint blocks
        val labelParts = math.max(1L, math.min(
          s.sessionState.conf.numShufflePartitions.toLong,
          2L * edgeCount / 100000L + 1L)).toInt
        var labels = e.select(col("da").as("doc"))
          .union(e.select(col("db").as("doc")))
          .distinct()
          .withColumn("lbl", col("doc"))
          .repartition(labelParts, col("doc"))
          .localCheckpoint()
        var changed = 1L
        var rounds = 0
        while (changed > 0 && rounds < 50) {
          val msgs = e.join(labels, col("da") === col("doc"))
            .select(col("db").as("m_doc"), col("lbl").as("m_lbl"))
            .union(e.join(labels, col("db") === col("doc"))
              .select(col("da").as("m_doc"), col("lbl").as("m_lbl")))
            .union(labels.select(col("doc").as("m_doc"), col("lbl").as("m_lbl")))
          // Convergence check FOLDED into the update job: the old label is
          // re-joined here so the change flag is computed and materialized
          // by the same localCheckpoint that produces the new labels; the
          // sum-of-flags below scans only the checkpointed in-memory
          // blocks — no per-round recompute of the join (the round-2 design
          // ran a second join+count job per round).
          val next = msgs.groupBy(col("m_doc").as("doc"))
            .agg(min("m_lbl").as("lbl"))
            .join(labels.select(col("doc"), col("lbl").as("prev")), "doc")
            .select(col("doc"), col("lbl"),
              (col("lbl") =!= col("prev")).as("chg"))
            .repartition(labelParts, col("doc"))
            .localCheckpoint()
          changed = next
            .agg(sum(when(col("chg"), 1L).otherwise(0L)).as("n"))
            .first().getLong(0)
          labels = next.select("doc", "lbl")
          rounds += 1
        }
        labels.groupBy(col("lbl").as("rep_doc")).agg(cnt.as("csize"))
          .oracleOrder("rep_doc")
      }),

    // Typed-Aggregator variant (SURVEY.md §4.3 custom piece): same signature
    // as dedup_minhash_lsh's declarative form, computed by the MinHashAgg
    // UDAF (partial-aggregating, k longs per doc over the shuffle). The
    // UDAF itself isn't expressible in DuckDB, but its CONTRACT is: the
    // signature minima are plain MIN aggregates of the same md5-hash
    // permutations, so the oracle recomputes m0/m15 declaratively —
    // a drifted UDAF (hash scheme, mod order, buffer merge) is a hash
    // mismatch. Full 16-lane equivalence is additionally spec-asserted
    // (MinHashSpec).
    Q(
      "dedup_minhash_udaf",
      Some(s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
              |t AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS tok FROM d),
              |h AS (SELECT doc_id, $duckTokHash % $P AS hm FROM t)
              |SELECT doc_id,
              |  MIN((${a(0)}*hm + ${b(0)}) % $P) AS m0,
              |  MIN((${a(NumHashes - 1)}*hm + ${b(NumHashes - 1)}) % $P) AS m${NumHashes - 1}
              |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val h = tokens(s, dir, 200)
          .select(col("doc_id"), tokHash(col("tok")).as("hm"))
        h.groupBy("doc_id").agg(MinHash.signature(col("hm")).as("sig"))
          .select(col("doc_id"),
            element_at(col("sig"), 1).as("m0"),
            element_at(col("sig"), NumHashes).as(s"m${NumHashes - 1}"))
          .oracleOrder("doc_id")
      }),

    // Cross-document repeated spans (ExactSubstr flavor — Lee et al. 2021,
    // "Deduplicating Training Data Makes Language Models Better": verbatim
    // spans recurring across documents are the highest-value dedup target).
    // Two-pass hash-count shape: PASS 1 counts distinct docs AND the
    // representative (min) doc per char-20-gram with only an 8-byte
    // xxhash64 crossing the shuffle (the string never moves — same dialect
    // as decontaminate_ngram_overlap); PASS 2 recovers the span text by
    // re-scanning ONLY the representative documents of qualifying hashes
    // (1465 of 5000 docs at sf0.1, 47 of 500 at sf0.01 — bounded by the
    // hot-span count, never the corpus). The paper's suffix-array build is
    // the single-machine shape; hash-count + bounded recovery is its
    // shuffle-friendly distributed twin. Threshold membership (n_docs >= 5)
    // is tie-free, so no top-k hash-vs-string tie-break divergence can
    // arise between engines. Collision risk is the decontaminate class: the
    // DuckDB oracle joins raw grams, so a hash collision that changed any
    // output would be a red row.
    Q(
      "dedup_repeated_spans",
      Some(s"""WITH d AS (SELECT doc_id, lower(text) AS tx FROM documents),
              |g AS (SELECT DISTINCT doc_id, substr(tx, CAST(i AS INT), 20) AS gram
              |      FROM d, unnest(range(1, len(tx)-18)) r(i)
              |      WHERE len(tx) >= 20),
              |c AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |        CAST(MIN(doc_id) AS BIGINT) AS rep_doc
              |      FROM g GROUP BY gram)
              |SELECT gram, n_docs, rep_doc FROM c
              |WHERE n_docs >= $spanMinDocs
              |ORDER BY n_docs DESC, gram""".stripMargin),
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), lower(col("text")).as("tx"))
          .filter(length(col("tx")) >= 20)
        // Recovery-scan gram generator: graft_grams walks the codepoint
        // boundaries ONCE per doc (the explode(sequence)+substring form
        // seeks from byte 0 per gram — O(L^2) per doc); xxhash64 over each
        // gram string is the stock codegen'd expression, so gram_h is
        // bit-identical to pass 1's hashes by construction.
        def spans(src: DataFrame): DataFrame = src
          .select(col("doc_id"),
            explode(call_function("graft_grams", col("tx"), lit(20))).as("gram"))
          .select(col("doc_id"), col("gram"), xxhash64(col("gram")).as("gram_h"))
        // PASS 1: within-doc gram dedup happens MAP-SIDE inside the row
        // (graft_gram_hashes emits each doc's DISTINCT gram hashes in one
        // O(doc) pass — a doc is one row, so no shuffle can be needed to
        // dedup within it), leaving a single partially-aggregated shuffle
        // for the cross-doc count. The naive distinct().groupBy() form
        // shuffles twice for the same answer; the declarative
        // array_distinct(transform(...)) form is the O(L^2) seek +
        // CodegenFallback boxing GramHashes.scala documents.
        // Lineage cut after PASS 1 (r21): `hot` feeds BOTH broadcast builds
        // below (repDocs and hotR), and their column-pruned subtrees do not
        // canonicalize identically, so ReuseExchange never fired — the full
        // corpus gram scan (the dominant cost) executed TWICE. The cut
        // materializes the bounded hot-span table once (47 rows at sf0.01,
        // ~1.5k at sf0.1 — bounded by the qualifying-gram count, never the
        // corpus).
        val hot = d
          .select(col("doc_id"),
            explode(call_function("graft_gram_hashes", col("tx"), lit(20)))
            .as("gram_h"))
          .groupBy("gram_h")
          .agg(cnt.as("n_docs"), min(col("doc_id")).cast("long").as("rep_doc"))
          .filter(col("n_docs") >= spanMinDocs)
          .localCheckpoint()
        // PASS 2: explode only the representative docs; the span string is
        // read out of its own rep doc (doc_id match pins it there).
        val repDocs = hot.select(col("rep_doc").as("doc_id")).distinct()
        // hot's key is renamed before the join: hot and the recovery scan
        // share lineage (both read `d`), and duplicate column names across
        // a self-join lineage trip Spark's ambiguity check.
        val hotR = hot.select(col("gram_h").as("hot_h"),
          col("n_docs"), col("rep_doc"))
        spans(d.join(broadcast(repDocs), Seq("doc_id"), "left_semi"))
          .join(broadcast(hotR),
            col("gram_h") === col("hot_h") && col("doc_id") === col("rep_doc"))
          .groupBy(col("hot_h"), col("n_docs"), col("rep_doc"))
          .agg(min(col("gram")).as("gram"))
          .select(col("gram"), col("n_docs"), col("rep_doc"))
          .oracleOrder(col("n_docs").desc, col("gram"))
      }),

    // Incremental-crawl dedup: drop new-batch docs whose content fingerprint
    // already exists in the prior corpus snapshot (every recurring crawl
    // runs this against its last published corpus). The bloom prefilter is
    // what makes it a 100 TB shape: the snapshot side folds to a fixed
    // ~100 KB bloom sketch (stock `bloom_filter_agg`, partial-aggregated,
    // collected once like the k-means centroids and re-broadcast as a
    // literal), the new batch probes it MAP-SIDE (`graft_might_contain`,
    // no false negatives by construction), and only the bloom-positive
    // survivors — true dups plus the ~1% false-positive trickle — reach the
    // exact semi-join confirm. Output is therefore EXACT (the bloom can
    // only prune, never change the answer — the DuckDB oracle is the plain
    // semi-join, and IncrementalBloomSpec asserts bloom-on == bloom-off);
    // at scale the confirm join shuffles candidate keys instead of the
    // whole new batch. Fingerprint dialect = text_fingerprint's sorted
    // distinct token set.
    Q(
      "dedup_incremental_bloom",
      Some("""WITH f AS (
             |  SELECT doc_id, COALESCE(lang, '??') AS lang,
             |    md5(array_to_string(list_sort(list_distinct(
             |      string_split(lower(text), ' '))), ' ')) AS h
             |  FROM documents),
             |snap AS (SELECT DISTINCT h FROM f WHERE doc_id % 5 < 4),
             |newb AS (SELECT doc_id, lang, h FROM f WHERE doc_id % 5 = 4)
             |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_new,
             |  CAST(SUM(CASE WHEN h IN (SELECT h FROM snap) THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_dup,
             |  CAST(SUM(CASE WHEN h IN (SELECT h FROM snap) THEN 0 ELSE 1 END)
             |    AS BIGINT) AS n_kept
             |FROM newb GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => incrementalDedup(s, dir, useBloom = true)),

    // URL canonicalization dedup — the FIRST dedup a web crawl runs, before
    // any content hashing: the same page arrives as scheme/case/default-
    // port/tracking-param/fragment/trailing-slash variants, and byte-level
    // URL keys treat each as a distinct document. Four deterministic messy
    // variants are synthesized per canonical page, then normalized by a
    // regexp chain (lowercase host, strip default port, drop utm_* params
    // and dangling '?', drop fragment, trim trailing slash) shared verbatim
    // with the DuckDB oracle — the canonical-groups output proves all four
    // provenances collapse. Pure map work plus ONE groupBy on the canonical
    // key: the same zero-shuffle-then-hash-key shape as dedup_exact_hash,
    // scale-safe at any corpus size.
    Q(
      "dedup_url_canonicalize",
      Some("""WITH u AS (
             |  SELECT doc_id,
             |    CASE CAST(doc_id % 4 AS INT)
             |      WHEN 0 THEN 'https://WWW.Example.com:443/docs/'
             |                  || CAST(doc_id // 4 AS VARCHAR)
             |                  || '?utm_source=' || source || '&utm_medium=rss'
             |      WHEN 1 THEN 'https://www.example.com/docs/'
             |                  || CAST(doc_id // 4 AS VARCHAR) || '/'
             |      WHEN 2 THEN 'https://www.example.com/docs/'
             |                  || CAST(doc_id // 4 AS VARCHAR) || '#section-2'
             |      ELSE 'https://www.example.com/docs/'
             |                  || CAST(doc_id // 4 AS VARCHAR)
             |    END AS url
             |  FROM documents),
             |c AS (
             |  SELECT doc_id,
             |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             |      regexp_replace(regexp_replace(url,
             |        '^(https?)://([^/:?#]+)(:443|:80)?', '\1://\2'),
             |        '#.*$', ''),
             |        '([?&])utm_[^&#]*', '\1', 'g'),
             |        '[?&]+$', ''),
             |        '\?&', '?'),
             |        '/+$', '') AS canon
             |  FROM u),
             |lc AS (SELECT doc_id, lower(canon) AS canon FROM c)
             |SELECT canon, CAST(COUNT(*) AS BIGINT) AS n_variants,
             |  CAST(MIN(doc_id) AS BIGINT) AS keep_doc
             |FROM lc GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val id4 = (col("doc_id") / 4).cast("long").cast("string")
        val url = when(col("doc_id") % 4 === 0,
            concat(lit("https://WWW.Example.com:443/docs/"), id4,
              lit("?utm_source="), col("source"), lit("&utm_medium=rss")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("https://www.example.com/docs/"), id4, lit("/")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("https://www.example.com/docs/"), id4, lit("#section-2")))
          .otherwise(concat(lit("https://www.example.com/docs/"), id4))
        val canon = lower(
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(regexp_replace(url,
              "^(https?)://([^/:?#]+)(:443|:80)?", "$1://$2"),
              "#.*$", ""),
              "([?&])utm_[^&#]*", "$1"),
              "[?&]+$", ""),
              "\\?&", "?"),
              "/+$", ""))
        Tables(s, dir, "documents")
          .select(col("doc_id"), canon.as("canon"))
          .groupBy("canon")
          .agg(cnt.as("n_variants"), min("doc_id").cast("long").as("keep_doc"))
          .oracleOrder("canon")
      }),

    // Edit-distance near-dup confirm: exact Levenshtein over a BOUNDED
    // candidate block (same lang, close lengths, doc_id slice) — the
    // character-level confirm stage that token-set Jaccard misses
    // (transpositions, small in-word edits). Both engines implement the
    // classic unit-cost DP, so the distance is integer-exact. Scale story:
    // Levenshtein is O(len²) per pair and NEVER runs corpus×corpus — the
    // candidate generation at 100 TB is MinHash/SimHash banding
    // (dedup_minhash_lsh), with this as the per-bucket confirm kernel; the
    // length-band prefilter here is the same trick (|len diff| bounds
    // distance from below, so far-length pairs can't pass the gate).
    Q(
      "dedup_edit_distance",
      Some("""WITH d AS (SELECT doc_id, lang, text, n_chars FROM documents
             |           WHERE doc_id < 80),
             |p AS (
             |  SELECT a.doc_id AS da, b.doc_id AS db,
             |    levenshtein(a.text, b.text) AS dist,
             |    a.n_chars AS ca, b.n_chars AS cb
             |  FROM d a JOIN d b
             |    ON a.lang = b.lang AND a.doc_id < b.doc_id
             |   AND abs(a.n_chars - b.n_chars) <= 30)
             |SELECT da, db, CAST(dist AS BIGINT) AS dist,
             |  ROUND(1.0 - CAST(dist AS DOUBLE) / greatest(ca, cb), 6) AS sim
             |FROM p WHERE CAST(dist AS DOUBLE) <= 0.8 * greatest(ca, cb)
             |ORDER BY da, db""".stripMargin),
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .filter(col("doc_id") < 80)
          .select("doc_id", "lang", "text", "n_chars")
        val a = d.select(col("doc_id").as("da"), col("lang"),
          col("text").as("ta"), col("n_chars").as("ca"))
        val b = d.select(col("doc_id").as("db"), col("lang"),
          col("text").as("tb"), col("n_chars").as("cb"))
        a.join(b, Seq("lang"))
          .filter(col("da") < col("db") &&
            abs(col("ca") - col("cb")) <= 30)
          .select(col("da"), col("db"),
            levenshtein(col("ta"), col("tb")).cast("long").as("dist"),
            col("ca"), col("cb"))
          // Compare in DOUBLE space: DuckDB's double->BIGINT cast ROUNDS
          // while Spark's truncates — a cast-based gate could disagree on
          // a 0.8*len boundary.
          .filter(col("dist").cast("double") <=
            lit(0.8) * greatest(col("ca"), col("cb")))
          .select(col("da"), col("db"), col("dist"),
            round(lit(1.0) - col("dist").cast("double") /
              greatest(col("ca"), col("cb")), 6).as("sim"))
          .oracleOrder("da", "db")
      }),

    // Distributed suffix-ARRAY construction by prefix doubling (Manber &
    // Myers 1990; the primitive under suffix-array exact-substring corpus
    // dedup, Lee et al. 2022 "Deduplicating Training Data Makes Language
    // Models Better"): rank every token-position suffix of the corpus
    // slice lexicographically, by GENERALIZED prefix doubling (the k-ary
    // Larsson/Sadakane variant — every round pays a full sort on a
    // cluster, so fewer, wider rounds beat more, narrower ones). Round 0
    // dense-ranks positions by their 8-token gram; each k=16 round
    // ranks by the 16-tuple (rk, rk@pos+m, …, rk@pos+15m) at the
    // current stride m — ranks ordering by m tokens compose into an
    // ordering by k·m. The ROUND COUNT IS DERIVED FROM THE DATA
    // (VERDICT r18 item 3): one bounded driver probe reads the slice's
    // max doc length and takes ⌈log₁₆(maxlen/8)⌉ rounds, so coverage
    // 8·16^r ≥ maxlen ALWAYS — the shipped corpora (max 99 tokens) take
    // ONE round to 128; a >128-token corpus takes two (SuffixArraySpec
    // pins the 2-round path against a sequential twin on 300-token
    // docs). The same probe enforces the slice's token contract LOUDLY
    // (ADVICE r18): tokens must be nonempty with no chars below 0x20,
    // or the space-joined-gram ≡ token-sequence ordering equivalence
    // breaks — the query now refuses such a corpus instead of silently
    // mis-ranking. The oracle is GENERATED per data dir with the same
    // derived round count, so both engines always run the same
    // geometry. End-of-doc uses sentinel -1 (< every real rank), giving
    // the standard shorter-prefix-first suffix order. Suffixes whose
    // FULL token sequences are identical across documents end tied —
    // dup_cnt > 1 is exactly the repeated-suffix signal the SA-based
    // dedup consumes.
    //
    // Scale shape: this is the textbook DISTRIBUTED SA build — O(log_k n)
    // rounds, each ONE range-repartition sort of integer rank tuples (the
    // token text never reshuffles after round 0; the 15 lead columns
    // share ONE doc_id exchange). The global dense rank is the
    // ntile-style two-phase rank: range-partition (equal keys co-located
    // by RangePartitioner), partition-LOCAL dense_rank, then a broadcast
    // prefix-sum of per-partition distinct counts — no single-partition
    // window ever sees data rows. Driver state is the 32-row offset table
    // per round; per-round lineage cuts, the iterative graph/kmeans
    // discipline. The tie count rides the final round's exchange for
    // free (equal tuples are co-located).
    //
    // Determinism: ranks are integers from binary-collation string order
    // (identical in both engines on this ascii corpus); no floating point
    // anywhere until the (none) — the whole result is integer/string.
    Q(
      "dedup_suffix_array_rank",
      None,
      (s, dir) => {
        val d = saSlice(s, dir).localCheckpoint()
        val fin = suffixArrayRank(d, saRounds(s, dir))
        fin.join(broadcast(d), "doc_id")
          .select(col("rk").as("srank"), col("dup_cnt"),
            col("doc_id"), col("pos"),
            concat_ws(" ",
              slice(col("toks"), (col("pos") + 1).cast("int"), lit(5)))
              .as("head5"))
          // Mid-query top-k (TakeOrdered), not presentation — the SA head
          // is the declared result.
          .orderBy("srank", "doc_id", "pos").limit(64)
      },
      oracleGen = Some((s, dir) => suffixRankOracle(saRounds(s, dir)))))

  /** The SA corpus slice: `lang='en', doc_id%10=3`, lowercased
    * space-tokenized. Shared by the query body, the per-dir oracle
    * generator (both must see the same max length), and SuffixArraySpec.
    */
  private def saSlice(
      s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .filter(col("lang") === "en" && col("doc_id") % 10 === 3)
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))

  /** SA geometry: round 0 seeds with the [[SaSeedGram]]-token gram
    * (three doublings bought for one slice+concat — space-joined gram
    * order equals token-SEQUENCE order because ' ' (0x20) sorts below
    * every token character, and an end-of-doc short gram is a string
    * prefix of any continuation: shorter-suffix-first, same as the -1
    * rank sentinel); each later round is [[SaK]]-ary.
    */
  private[graft] val SaSeedGram = 8
  private[graft] val SaK = 16

  /** Derived round count, staged — the probe is a property of the corpus
    * (one bounded fold, shared by the query body and the oracle
    * generator).
    */
  private def saRounds(s: SparkSession, dir: String): Int =
    Staged.memo(s, dir, "dedup/sa_rounds")(
      Int.box(saRoundsOf(saSlice(s, dir)))).intValue

  /** Derive the k=[[SaK]] round count from the slice's max doc length
    * (coverage [[SaSeedGram]]·[[SaK]]^r ≥ maxlen), and enforce the token
    * contract the seed-gram ordering equivalence needs — nonempty
    * tokens, no characters below 0x20 (an empty token from doubled
    * spaces, or a token containing a control char, would break
    * "space-joined gram order = token order"). One bounded driver fold:
    * a single aggregate row over the slice, independent of corpus size
    * (doc-level checks: array_contains for the empty token, ONE regex
    * scan of the rejoined doc for control chars — not a per-token
    * regex). Fails LOUDLY on contract violation instead of silently
    * mis-ranking (ADVICE r18).
    */
  private[graft] def saRoundsOf(d: DataFrame): Int = {
    val probe = d.agg(
      coalesce(max(size(col("toks"))), lit(0)).as("maxlen"),
      coalesce(max(when(
        array_contains(col("toks"), "") ||
          concat_ws(" ", col("toks")).rlike("[\\x00-\\x1f]"),
        1).otherwise(0)), lit(0))
        .as("bad")).head()
    require(probe.getInt(1) == 0,
      "dedup_suffix_array_rank: corpus violates the SA token contract " +
        "(empty token or control character in a token) — the space-joined " +
        "seed-gram ordering would not equal token-sequence ordering")
    val maxLen = probe.getInt(0)
    var cov = SaSeedGram
    var r = 0
    while (cov < maxLen) { r += 1; cov *= SaK }
    r
  }

  /** Generalized distributed SA build over `d` (doc_id, toks): seed
    * dense rank by the [[SaSeedGram]]-token gram, then `rounds`
    * [[SaK]]-ary prefix-doubling rounds (stride multiplies by [[SaK]]
    * each round; per-round lineage cuts — the iterative-op discipline).
    * Returns (doc_id, pos, rk, dup_cnt) with dup_cnt computed on the
    * FINAL round's exchange. Exposed for SuffixArraySpec's >128-token
    * sequential-twin pin.
    */
  private[graft] def suffixArrayRank(d: DataFrame, rounds: Int): DataFrame = {
    val tok = d
      .select(col("doc_id"), col("toks"), posexplode(col("toks")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        concat_ws(" ",
          slice(col("toks"), (col("pos") + 1).cast("int"), lit(SaSeedGram)))
          .as("tok"))
    if (rounds == 0)
      denseRankGlobal(tok, Seq("tok"), dupCntCol = Some("dup_cnt"))
        .select("doc_id", "pos", "rk", "dup_cnt")
    else {
      var r = denseRankGlobal(tok, Seq("tok"))
        .select("doc_id", "pos", "rk").localCheckpoint()
      var stride = SaSeedGram.toLong
      for (round <- 1 to rounds) {
        val wDoc = Window.partitionBy("doc_id").orderBy("pos")
        val withLeads = (1 until SaK).foldLeft(r) { (acc, j) =>
          acc.withColumn(s"rk$j",
            coalesce(lead(col("rk"), (j * stride).toInt).over(wDoc), lit(-1L)))
        }
        val last = round == rounds
        val ranked = denseRankGlobal(withLeads,
          "rk" +: (1 until SaK).map(j => s"rk$j"),
          dupCntCol = if (last) Some("dup_cnt") else None)
        r =
          if (last) ranked.select("doc_id", "pos", "rk", "dup_cnt")
          else ranked.select("doc_id", "pos", "rk").localCheckpoint()
        stride *= SaK
      }
      r
    }
  }

  /** DuckDB oracle for `dedup_suffix_array_rank`, GENERATED per data dir
    * with the SAME derived round count as the query: the seed +
    * `rounds` k=[[SaK]] rounds unrolled as CTEs (rank-tuple fetch via 15
    * LEADs at the round's stride, then a global DENSE_RANK — DuckDB runs
    * single-node, so the plain window IS its two-phase rank).
    */
  private def suffixRankOracle(rounds: Int): String = {
    val roundCtes = (1 to rounds).flatMap { r =>
      val stride = (1 until r).foldLeft(SaSeedGram.toLong)((a, _) => a * SaK)
      val leads = (1 until SaK).map(j =>
        s"    COALESCE(LEAD(rk, ${j * stride}) OVER " +
          s"(PARTITION BY doc_id ORDER BY pos), -1) AS rk$j").mkString(",\n")
      val keys = (1 until SaK).map(j => s"rk$j").mkString(", ")
      Seq(
        s"""p$r AS (
           |  SELECT doc_id, pos, rk,
           |$leads
           |  FROM r${r - 1})""".stripMargin,
        s"""r$r AS (
           |  SELECT doc_id, pos, DENSE_RANK() OVER (ORDER BY rk, $keys) AS rk
           |  FROM p$r)""".stripMargin)
    }
    val ctes = Seq(
      s"""d AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks
         |  FROM documents WHERE lang = 'en' AND doc_id % 10 = 3)""".stripMargin,
      s"""tok AS (
         |  SELECT doc_id,
         |    array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + ${SaSeedGram - 1} AS INT)), ' ') AS tok,
         |    CAST(i - 1 AS BIGINT) AS pos
         |  FROM d, unnest(range(1, len(toks) + 1)) r(i))""".stripMargin,
      s"""r0 AS (
         |  SELECT doc_id, pos, DENSE_RANK() OVER (ORDER BY tok) AS rk
         |  FROM tok)""".stripMargin) ++ roundCtes :+
      s"""fin AS (
         |  SELECT doc_id, pos, rk, COUNT(*) OVER (PARTITION BY rk) AS dup_cnt
         |  FROM r$rounds)""".stripMargin
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT CAST(f.rk AS BIGINT) AS srank, CAST(f.dup_cnt AS BIGINT) AS dup_cnt,
       |  f.doc_id, f.pos,
       |  array_to_string(list_slice(d.toks, CAST(f.pos + 1 AS INT),
       |    CAST(f.pos + 5 AS INT)), ' ') AS head5
       |FROM fin f JOIN d ON f.doc_id = d.doc_id
       |ORDER BY f.rk, f.doc_id, f.pos LIMIT 64""".stripMargin
  }

  /** Distributed global dense_rank over `keys` (appended as column `rk`):
    * range-repartition so RangePartitioner co-locates equal keys,
    * partition-local dense_rank, then add a broadcast prefix sum of
    * per-partition DISTINCT-key counts. The unpartitioned prefix-sum
    * window is safe — its input is one row per partition (the ntile
    * precedent, Windows.scala), never data rows.
    */
  private def denseRankGlobal(df: DataFrame, keys: Seq[String],
      dupCntCol: Option[String] = None): DataFrame = {
    val kcols = keys.map(col)
    val ranged = df.repartitionByRange(kcols: _*)
      .withColumn("__pid", spark_partition_id())
    val wKeys = Window.partitionBy(("__pid" +: keys).map(col): _*)
    val local0 = ranged.withColumn("__lrk",
      dense_rank().over(Window.partitionBy("__pid").orderBy(kcols: _*)))
    // Optional tie count per FULL key tuple — equal keys are co-located
    // by the range partitioner, so the per-partition count IS the global
    // one, on the same exchange.
    val local = dupCntCol.fold(local0)(c =>
      local0.withColumn(c, count(lit(1)).over(wKeys)))
    val offs = ranged.groupBy("__pid")
      .agg(countDistinct(kcols.head, kcols.tail: _*).as("__nd"))
      .withColumn("__off",
        coalesce(
          sum("__nd").over(
            Window.orderBy("__pid")
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("__pid", "__off")
    local.join(broadcast(offs), "__pid")
      .withColumn("rk", col("__off") + col("__lrk"))
      .drop("__pid", "__lrk", "__nd")
  }

  /** Shared body of `dedup_incremental_bloom`; `useBloom = false` is the
    * exact twin IncrementalBloomSpec compares against (the prefilter must
    * be invisible in the result).
    */
  private[graft] def incrementalDedup(
      s: SparkSession, dir: String, useBloom: Boolean): DataFrame = {
    val fp = md5(array_join(array_sort(array_distinct(
      split(lower(col("text")), " "))), " "))
    val f = Tables(s, dir, "documents")
      .select(col("doc_id"), coalesce(col("lang"), lit("??")).as("lang"),
        fp.as("h"))
    val snap = f.filter(col("doc_id") % 5 < 4)
      .select(col("h").as("snap_h")).distinct()
    val newB = f.filter(col("doc_id") % 5 === 4)
    val pre = if (useBloom) newB.filter(
      call_function("graft_might_contain",
        lit(snapshotBloom(s, dir)), xxhash64(col("h"))))
    else newB
    val confirmed = pre
      .join(snap, col("h") === col("snap_h"), "left_semi")
      .select(col("doc_id"), lit(true).as("dup"))
    newB.join(confirmed, Seq("doc_id"), "left_outer")
      .groupBy("lang")
      .agg(cnt.as("n_new"),
        sum(when(col("dup"), 1L).otherwise(0L)).cast("long").as("n_dup"),
        sum(when(col("dup"), 0L).otherwise(1L)).cast("long").as("n_kept"))
      .oracleOrder("lang")
  }

  /** Serialized bloom over the snapshot fingerprints (bounded: `bloomBits`
    * regardless of corpus size; a real deployment sizes items/bits to the
    * published corpus count and persists the sketch next to it).
    */
  private[graft] def snapshotBloom(s: SparkSession, dir: String): Array[Byte] = {
    val fp = md5(array_join(array_sort(array_distinct(
      split(lower(col("text")), " "))), " "))
    Tables(s, dir, "documents")
      .filter(col("doc_id") % 5 < 4)
      .select(fp.as("h"))
      .agg(expr(s"graft_bloom_agg(xxhash64(h), ${bloomItems}L, ${bloomBits}L)"))
      .head().getAs[Array[Byte]](0)
  }

  /** Repeat threshold for `dedup_repeated_spans` (>= 5 docs: 47 spans at
    * sf0.01, ~10k at sf0.1 — bounded output at every test scale).
    */
  private val spanMinDocs = 5

  /** Bloom sizing for `dedup_incremental_bloom`: 100k expected items ×
    * ~8.4 bits/item ≈ 105 KB sketch, ~2-3% false-positive rate.
    */
  private val bloomItems = 100000L
  private val bloomBits = 838861L
}
