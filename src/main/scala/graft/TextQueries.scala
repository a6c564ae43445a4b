package graft

import graft.functions.{Det, TextFns}
import graft.operators.Dedup
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication workload over the `documents` table
  * (SURVEY.md north-star ops: exact dedup, MinHash+LSH, SimHash, n-gram
  * Jaccard, language ID, quality scoring, token counting).
  *
  * Every oracle below re-derives the SAME pipeline in DuckDB SQL — the
  * md5-based portable hash makes signatures, band keys, and candidate
  * pairs bit-identical across engines, so even the LSH paths are checked
  * exactly, not approximately.
  */
object TextQueries {
  import Queries.tbl

  // ── shared DuckDB fragments (mirror TextFns) ──────────────────────────
  /** portable 60-bit hash of an expression */
  private def hSql(e: String) = s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"
  private val norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  private val toks = s"CASE WHEN $norm = '' THEN CAST([] AS VARCHAR[]) ELSE string_split($norm, ' ') END"
  /** distinct word n-shingles (mirrors TextFns.wordShingles) */
  private def wordShinglesSql(n: Int) =
    s"""CASE WHEN len($toks) <= $n THEN [array_to_string($toks, ' ')]
        ELSE list_distinct(list_transform(range(1, len($toks) - ${n - 1} + 1),
          i -> array_to_string(($toks)[i:i + ${n - 2} + 1], ' '))) END"""
  /** distinct char n-shingles (mirrors TextFns.charShingles) */
  private def charShinglesSql(n: Int) =
    s"""list_distinct(list_transform(range(1, greatest(length($norm) - ${n - 1}, 1) + 1),
        i -> substr($norm, i, $n)))"""
  // ── synthetic URL host pool (shared by q166 / q175) ──────────────────
  private val hostPoolNames = Seq("news.example.com", "blog.example.org",
    "docs.example.net", "www.example.com", "cdn.example.io",
    "shop.example.mx", "example.com")
  /** host for a doc: pool[(doc_id % 7)] — same formula both engines. */
  private def hostOf(id: Column): Column =
    element_at(array(hostPoolNames.map(lit): _*), (pmod(id, lit(7L)) + 1L).cast("int"))
  private def hostOfSql(id: String): String =
    s"(${hostPoolNames.map(h => s"'$h'").mkString("[", ", ", "]")})[($id % 7) + 1]"
  /** registered domain = last two host labels. */
  private def regDomain(host: Column): Column =
    regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
  private val regDomainSqlRe = "'([^.]+\\.[^.]+)$'"

  private def jaccardSql(a: String, b: String) =
    Det.roundAtSql(s"len(list_intersect($a, $b)) * 1.0 / len(list_distinct(list_concat($a, $b)))", 6)

  /** Shared CTE chain mirroring Dedup.minhashLshPairs(32, 8, 3): word
    * 3-shingles → 32-hash signature → 8 band keys → banded self-join →
    * `cand` (id_a, sh_a, id_b, sh_b). Used by q22 / q39 / q53 so all
    * three oracles derive the IDENTICAL candidate set. The self-join
    * reads `banded_ok` — buckets over [[Dedup.DefaultMaxBucket]]
    * excluded, the SAME constant the engine path caps with — so engine
    * and oracle agree on candidates even on a corpus where the cap
    * fires (it never does at verify scale; the SCALE_r10 cap-fire
    * experiment lowers the knob and re-proves parity with buckets
    * actually shed). The uncapped `banded` CTE stays visible for shed
    * audits (q119). */
  private def minhashCtes: String = minhashCtesFrom("documents")

  /** Same CTE chain over an arbitrary (doc_id, text)-shaped relation —
    * q119 runs the LSH pass over the filter SURVIVORS, not the corpus. */
  private def minhashCtesFrom(src: String): String = {
    val p = Dedup.MinhashP
    val sigList = Dedup.minhashSeeds(32).map { case (a, b) =>
      s"list_min(list_transform(hb, h -> (h * $a + $b) % $p))"
    }.mkString("[", ", ", "]")
    val bandHash = hSql(
      "CAST(b AS VARCHAR) || '-' || array_to_string(list_transform(sig[4*b+1:4*b+4], s -> CAST(s AS VARCHAR)), '-')")
    s"""docs AS (SELECT doc_id, ${wordShinglesSql(3)} AS sh FROM $src),
        hashed AS (SELECT doc_id, sh,
          list_transform(sh, x -> ${hSql("x")} % $p) AS hb FROM docs),
        signed AS (SELECT doc_id, sh, $sigList AS sig FROM hashed),
        keyed AS (SELECT doc_id, sh,
          list_transform(range(0, 8), b -> $bandHash) AS keys FROM signed),
        banded AS (SELECT doc_id, sh, bb.range AS band, keys[bb.range + 1] AS key
          FROM keyed CROSS JOIN range(0, 8) AS bb),
        ok_buckets AS (SELECT band, key FROM banded
          GROUP BY band, key HAVING COUNT(*) <= ${Dedup.DefaultMaxBucket}),
        banded_ok AS (SELECT b.* FROM banded b JOIN ok_buckets USING (band, key)),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, a.sh AS sh_a, c.doc_id AS id_b, c.sh AS sh_b
          FROM banded_ok a JOIN banded_ok c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id)"""
  }

  /** Verified pairs → bidirectional edges → connected components (min
    * label via recursive CTE). Appends to [[minhashCtes]]; shared by
    * q39 / q63 so both oracles close the identical pair set. */
  private def ccCtes: String =
    s"""pairs AS (SELECT id_a, id_b FROM cand
          WHERE ${jaccardSql("sh_a", "sh_b")} >= 0.5),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
        cc AS (WITH RECURSIVE r(id, comp) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.comp FROM r JOIN edges e ON r.id = e.src)
          SELECT id, MIN(comp) AS cluster FROM r GROUP BY id)"""

  // q21 — exact dedup via content fingerprint: one groupBy on a 60-bit
  // hash; the whole-corpus exact-dedup shape (never full-text compares).
  private val q21 = Q(
    "q21_exact_dedup",
    (s, dir) => Dedup.exactStats(tbl(s, dir, "documents"), "text"),
    Some(s"""WITH fp AS (SELECT ${hSql(norm)} AS fp FROM documents),
      g AS (SELECT fp, COUNT(*) AS n FROM fp GROUP BY fp)
      SELECT CAST(SUM(n) AS BIGINT) AS n_docs, COUNT(*) AS n_distinct,
        CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_dup_docs,
        CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
      FROM g"""))

  // q22 — MinHash+LSH near-dup pairs: 32 hashes, 8 bands × 4 rows, word
  // 3-shingles, exact-Jaccard verify ≥ 0.5. The oracle rebuilds identical
  // signatures/band keys, so candidates match exactly. Headline dedup op.
  private val q22 = Q(
    "q22_minhash_lsh",
    (s, dir) => Dedup.minhashLshPairs(tbl(s, dir, "documents"), "doc_id", "text",
      numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs,
    Some(s"""WITH $minhashCtes
        SELECT id_a, id_b, ${jaccardSql("sh_a", "sh_b")} AS jaccard
        FROM cand WHERE ${jaccardSql("sh_a", "sh_b")} >= 0.5
        ORDER BY id_a, id_b"""),
    headline = true)

  // q23 — SimHash near-dup pairs: 32-bit sketch over word 3-shingles,
  // 4×8-bit bands (pigeonhole-complete for hamming ≤ 3), verify
  // bit_count(xor) ≤ 3.
  private val q23 = Q(
    "q23_simhash",
    (s, dir) => Dedup.simhashPairs(tbl(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, maxHamming = 3),
    Some {
      val sim = s"""CAST(list_sum(list_transform(range(0, 32), i ->
        CASE WHEN 2 * len(list_filter(hs, h -> (h >> i) & 1 = 1)) >= len(hs)
             THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT)"""
      s"""WITH docs AS (SELECT doc_id,
          list_transform(${wordShinglesSql(3)}, x -> ${hSql("x")}) AS hs FROM documents),
        sk AS (SELECT doc_id, $sim AS sh FROM docs),
        banded AS (SELECT doc_id, sh, bb.range AS band,
            (sh >> (8 * bb.range)) & 255 AS key
          FROM sk CROSS JOIN range(0, 4) AS bb),
        ok_buckets AS (SELECT band, key FROM banded
          GROUP BY band, key HAVING COUNT(*) <= ${Dedup.DefaultMaxBucket}),
        banded_ok AS (SELECT b.* FROM banded b JOIN ok_buckets USING (band, key)),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, a.sh AS sh_a, c.doc_id AS id_b, c.sh AS sh_b
          FROM banded_ok a JOIN banded_ok c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id)
        SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
        ORDER BY id_a, id_b""" })

  // q249 — SIMHASH BANDING RECALL AUDIT: the byte-banding pigeonhole
  // guarantee (hamming ≤ 3 over a 32-bit sketch CANNOT change all 4
  // bytes → every true pair shares a band) measured, not assumed —
  // brute pairwise hamming over the one-long-per-doc sketches as ground
  // truth vs q23's banded candidates. Completes the recall-audit family
  // (LSH→q53, IVF→q196, PQ→q195). The sketch cross-compare is sketch-
  // grain (one long per doc), still O(n²): verify-scale baseline,
  // non-headline.
  private val q249 = Q(
    "q249_simhash_recall",
    (s, dir) => {
      val sk = graft.operators.Ckpt.local(
        tbl(s, dir, "documents").select(col("doc_id"),
          Dedup.simhash(col("text"), shingleN = 3).as("sh")))
      val brute = sk.as("a").join(sk.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .filter(bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= 3)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      val banded = Dedup.simhashPairs(tbl(s, dir, "documents"), "doc_id",
        "text", shingleN = 3, maxHamming = 3)
        .select(col("id_a").as("b_a"), col("id_b").as("b_b"))
      val nBand = banded.agg(count(lit(1)).as("n_banded"))
      brute.join(banded,
          col("id_a") === col("b_a") && col("id_b") === col("b_b"), "left")
        .agg(count(lit(1)).as("n_brute"),
          coalesce(sum(col("b_a").isNotNull.cast("long")), lit(0L)).as("n_common"))
        .crossJoin(broadcast(nBand))
        .select(col("n_brute"), col("n_banded"), col("n_common"),
          Det.roundAt(try_divide(col("n_common").cast("double"),
            col("n_brute")), 6).as("recall"))
    },
    Some {
      val sim = s"""CAST(list_sum(list_transform(range(0, 32), i ->
        CASE WHEN 2 * len(list_filter(hs, h -> (h >> i) & 1 = 1)) >= len(hs)
             THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT)"""
      s"""WITH docs AS (SELECT doc_id,
          list_transform(${wordShinglesSql(3)}, x -> ${hSql("x")}) AS hs FROM documents),
        sk AS (SELECT doc_id, $sim AS sh FROM docs),
        brute AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sk a JOIN sk b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sh, b.sh)) <= 3),
        banded0 AS (SELECT doc_id, sh, bb.range AS band,
            (sh >> (8 * bb.range)) & 255 AS key
          FROM sk CROSS JOIN range(0, 4) AS bb),
        ok_b0 AS (SELECT band, key FROM banded0
          GROUP BY band, key HAVING COUNT(*) <= ${Dedup.DefaultMaxBucket}),
        banded0_ok AS (SELECT b.* FROM banded0 b JOIN ok_b0 USING (band, key)),
        bandp AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
          FROM banded0_ok a JOIN banded0_ok c
            ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
          WHERE bit_count(xor(a.sh, c.sh)) <= 3),
        counts AS (SELECT
          (SELECT COUNT(*) FROM brute) AS n_brute,
          (SELECT COUNT(*) FROM bandp) AS n_banded,
          (SELECT COUNT(*) FROM brute t JOIN bandp p
             ON t.id_a = p.id_a AND t.id_b = p.id_b) AS n_common)
      SELECT n_brute, n_banded, n_common,
        ${Det.roundAtSql("n_common * 1.0 / n_brute", 6)} AS recall
      FROM counts"""
    })

  // q24 — brute-force char-5-gram Jaccard pairs ≥ 0.8: the exact baseline
  // that measures the LSH paths' recall. O(n²) — verify-scale only.
  private val q24 = Q(
    "q24_ngram_jaccard",
    (s, dir) => Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), "doc_id", "text",
      n = 5, threshold = 0.8),
    Some(s"""WITH docs AS (SELECT doc_id, ${charShinglesSql(5)} AS sh FROM documents)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, ${jaccardSql("a.sh", "b.sh")} AS jaccard
      FROM docs a JOIN docs b ON a.doc_id < b.doc_id
      WHERE ${jaccardSql("a.sh", "b.sh")} >= 0.8
      ORDER BY id_a, id_b"""))

  // q25 — language ID (marker-stopword heuristic) scored against the
  // labeled lang column. Single projection + groupBy.
  private val q25 = Q(
    "q25_lang_id",
    (s, dir) => tbl(s, dir, "documents")
      .withColumn("pred_lang", TextFns.langId(col("text")))
      .groupBy("pred_lang")
      .agg(count(lit(1)).as("cnt"),
        sum((col("pred_lang") === col("lang")).cast("long")).as("n_correct"))
      .orderBy("pred_lang"),
    Some {
      s"""WITH scored AS (SELECT lang, $predLangSelect
        FROM documents)
      SELECT pred_lang, COUNT(*) AS cnt,
        CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
      FROM scored GROUP BY pred_lang ORDER BY pred_lang""" })

  /** SELECT-list fragment mirroring TextFns.langId: `<best> AS best,
    * <case> AS pred_lang` (the CASE laterally references the `best`
    * alias). Shared by q25 / q119. */
  private def predLangSelect: String = {
    val scores = TextFns.LangMarkers.map { case (lang, ws) =>
      lang -> ws.map(w => s"CASE WHEN contains(' ' || lower(text) || ' ', '$w') THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
    }
    val best = scores.map(_._2).mkString("greatest(", ", ", ")")
    val nBest = scores.map { case (_, e) => s"CASE WHEN $e = best THEN 1 ELSE 0 END" }
      .mkString(" + ")
    val winner = scores.map { case (l, e) => s"WHEN $e = best THEN '$l'" }.mkString(" ")
    s"""$best AS best,
          CASE WHEN $best = 0 THEN 'unknown'
               WHEN ($nBest) > 1 THEN 'unknown'
               $winner END AS pred_lang"""
  }

  // q234 — LANGUAGE-ID CONFUSION MATRIX (the per-class eval q25's
  // marginals can't show): full (true lang × predicted) grid including
  // 'unknown' abstentions, with per-cell recall share — which language
  // the classifier bleeds into, not just how often it's right. Same
  // single projection as q25, cell-grain aggregate.
  private val q234 = Q(
    "q234_langid_confusion",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
        .withColumn("pred_lang", TextFns.langId(col("text")))
      val tot = d.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      d.groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("cnt"))
        .join(broadcast(tot), "lang")
        .withColumn("recall_share", Det.roundAt(
          col("cnt").cast("double") / col("n_lang").cast("double"), 6))
        .select("lang", "pred_lang", "cnt", "recall_share")
        .orderBy("lang", "pred_lang")
    },
    Some {
      s"""WITH scored AS (SELECT lang, $predLangSelect FROM documents),
        tot AS (SELECT lang, COUNT(*) AS n_lang FROM scored GROUP BY lang),
        cells AS (SELECT lang, pred_lang, COUNT(*) AS cnt
          FROM scored GROUP BY lang, pred_lang)
      SELECT cells.lang AS lang, pred_lang, cnt,
        ${Det.roundAtSql("CAST(cnt AS DOUBLE) / CAST(n_lang AS DOUBLE)", 6)}
          AS recall_share
      FROM cells JOIN tot ON cells.lang = tot.lang
      ORDER BY lang, pred_lang""" })

  // q257 — MACRO-F1 of the language classifier (the single-number grade
  // on q234's confusion grid — macro so rare languages count equally):
  // per class, precision from the prediction marginal, recall from the
  // truth marginal, F1 via the p·r form; 'unknown' abstentions dilute
  // recall but never precision (no class is named 'unknown'). All
  // counts integer; the macro mean is a decimal-exact sum of 6-rounded
  // per-class F1s.
  private val q257 = Q(
    "q257_langid_macro_f1",
    (s, dir) => {
      val d = graft.operators.Ckpt.local(
        tbl(s, dir, "documents")
          .withColumn("pred_lang", TextFns.langId(col("text")))
          .select("lang", "pred_lang"))
      val tp = d.filter(col("lang") === col("pred_lang"))
        .groupBy(col("lang")).agg(count(lit(1)).as("tp"))
      val truth = d.groupBy(col("lang")).agg(count(lit(1)).as("n_true"))
      val pred = d.groupBy(col("pred_lang").as("lang"))
        .agg(count(lit(1)).as("n_pred"))
      val per = truth.join(pred, Seq("lang"), "left")
        .join(tp, Seq("lang"), "left")
        .select(col("lang"), col("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("tp"), lit(0L)).as("tp"))
        .withColumn("precision", Det.roundAt(
          when(col("n_pred") === 0L, 0.0).otherwise(
            col("tp").cast("double") / col("n_pred").cast("double")), 6))
        .withColumn("recall", Det.roundAt(
          col("tp").cast("double") / col("n_true").cast("double"), 6))
        .withColumn("f1", Det.roundAt(
          when(col("precision") + col("recall") === 0.0, 0.0).otherwise(
            lit(2.0) * col("precision") * col("recall")
              / (col("precision") + col("recall"))), 6))
      per.agg(count(lit(1)).as("n_classes"),
          Det.roundAt(Det.dsum(col("precision"), 6) / count(lit(1)), 6)
            .as("macro_precision"),
          Det.roundAt(Det.dsum(col("recall"), 6) / count(lit(1)), 6)
            .as("macro_recall"),
          Det.roundAt(Det.dsum(col("f1"), 6) / count(lit(1)), 6).as("macro_f1"))
    },
    Some {
      s"""WITH scored AS (SELECT lang, $predLangSelect FROM documents),
        tp AS (SELECT lang, COUNT(*) AS tp FROM scored
          WHERE lang = pred_lang GROUP BY lang),
        truth AS (SELECT lang, COUNT(*) AS n_true FROM scored GROUP BY lang),
        pred AS (SELECT pred_lang AS lang, COUNT(*) AS n_pred
          FROM scored GROUP BY pred_lang),
        per AS (SELECT truth.lang AS lang, n_true,
            COALESCE(n_pred, 0) AS n_pred, COALESCE(tp, 0) AS tp
          FROM truth LEFT JOIN pred ON truth.lang = pred.lang
            LEFT JOIN tp ON truth.lang = tp.lang),
        m AS (SELECT lang,
            ${Det.roundAtSql(
              "CASE WHEN n_pred = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END",
              6)} AS precision,
            ${Det.roundAtSql("CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE)", 6)}
              AS recall
          FROM per),
        f AS (SELECT lang, precision, recall,
            ${Det.roundAtSql(
              "CASE WHEN precision + recall = 0.0 THEN 0.0 ELSE 2.0 * precision * recall / (precision + recall) END",
              6)} AS f1
          FROM m)
      SELECT COUNT(*) AS n_classes,
        ${Det.roundAtSql(
          "CAST(SUM(CAST(precision AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)", 6)}
          AS macro_precision,
        ${Det.roundAtSql(
          "CAST(SUM(CAST(recall AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)", 6)}
          AS macro_recall,
        ${Det.roundAtSql(
          "CAST(SUM(CAST(f1 AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)", 6)}
          AS macro_f1
      FROM f""" })

  // q26 — quality scoring per (lang, source): deterministic closed-form
  // score in [0,1]; exact decimal sums for the aggregate.
  private val q26 = Q(
    "q26_quality",
    (s, dir) => tbl(s, dir, "documents")
      .withColumn("q", TextFns.qualityScore(col("text")))
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"),
        Det.roundAt(Det.dsum(col("q"), 6) / count(lit(1)), 4).as("avg_quality"),
        sum((col("q") >= lit(0.8)).cast("long")).as("n_high"))
      .orderBy("lang"),
    Some {
      s"""WITH scored AS (SELECT lang, $qualityScoreSql AS q FROM documents)
      SELECT lang, COUNT(*) AS cnt,
        ${Det.roundAtSql("CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)", 4)} AS avg_quality,
        CAST(SUM(CASE WHEN q >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
      FROM scored GROUP BY lang ORDER BY lang""" })

  /** Expression mirroring TextFns.qualityScore over `text` (rounded at
    * 6, like the Spark side). Shared by q26 / q119. */
  private def qualityScoreSql: String = {
    val nTok = s"CAST(len($toks) AS DOUBLE)"
    val nCh  = "CAST(length(text) AS DOUBLE)"
    val safe = s"CASE WHEN $nCh = 0 THEN 1.0 ELSE $nCh END"
    val mwl  = s"($nCh / greatest($nTok, 1.0))"
    val alpha = s"(CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / $safe)"
    val lenScore = s"least($nTok / 20.0, 1.0)"
    val shape = s"CASE WHEN $mwl >= 2.5 AND $mwl <= 12.0 THEN 1.0 ELSE 0.5 END"
    Det.roundAtSql(s"$lenScore * $shape * $alpha", 6)
  }

  // q27 — token counting: whitespace tokens + BPE-ish subword units per
  // lang. Pure integer aggregates — fully deterministic.
  private val q27 = Q(
    "q27_token_count",
    (s, dir) => tbl(s, dir, "documents")
      .select(col("lang"),
        TextFns.tokenCount(col("text")).cast("long").as("nt"),
        TextFns.subwordCount(col("text")).cast("long").as("ns"))
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"),
        sum("nt").as("sum_tokens"),
        sum("ns").as("sum_subwords"),
        max("nt").as("max_tokens"),
        Det.roundAt(sum("nt") / count(lit(1)).cast("double"), 4).as("avg_tokens"))
      .orderBy("lang"),
    Some(s"""SELECT lang, COUNT(*) AS cnt,
      CAST(SUM(len($toks)) AS BIGINT) AS sum_tokens,
      CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))) AS BIGINT) AS sum_subwords,
      CAST(MAX(len($toks)) AS BIGINT) AS max_tokens,
      ${Det.roundAtSql(s"CAST(SUM(len($toks)) AS DOUBLE) / COUNT(*)", 4)} AS avg_tokens
      FROM documents GROUP BY lang ORDER BY lang"""))

  // q31 — multimodal byte plumbing over synthesized media (documents text
  // as opaque binary payloads): per-kind size totals + payload
  // fingerprint cardinality. Pure column ops on BinaryType.
  private val q31 = Q(
    "q31_multimodal_bytes",
    (s, dir) => {
      import graft.operators.Multimodal
      Multimodal.byteStats(
        Multimodal.synthesizeMedia(tbl(s, dir, "documents"), "doc_id", "text"))
        .groupBy("kind")
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_bytes")).as("total_bytes"),
          max(col("n_bytes")).as("max_bytes"),
          countDistinct(col("fingerprint")).as("n_distinct_payloads"))
        .orderBy("kind")
    },
    Some("""SELECT (['image','audio','video'])[(doc_id % 3) + 1] AS kind,
      COUNT(*) AS cnt,
      CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes,
      COUNT(DISTINCT md5(text)) AS n_distinct_payloads
      FROM documents GROUP BY 1 ORDER BY kind"""))

  // q34 — A9/D5: lexicon sentiment partition counts over documents text,
  // with the reference's duplicate-entry lexicon (terrible/horrible × 2).
  private val q34 = Q(
    "q34_sentiment",
    (s, dir) => tbl(s, dir, "documents")
      .withColumn("sent", graft.functions.CleanFns.sentiment(col("text")))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("sent").cast("long")).as("sum_sent"),
        sum((col("sent") > 0).cast("long")).as("n_pos"),
        sum((col("sent") < 0).cast("long")).as("n_neg"),
        sum((col("sent") === 0).cast("long")).as("n_neu")),
    Some {
      def hits(words: Seq[String]) = words
        .map(w => s"CASE WHEN contains(lower(text), '${w.toLowerCase}') THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      val sent = s"${hits(graft.functions.CleanFns.DefaultPositive)} - ${hits(graft.functions.CleanFns.DefaultNegative)}"
      s"""WITH s AS (SELECT $sent AS sent FROM documents)
      SELECT COUNT(*) AS cnt, CAST(SUM(sent) AS BIGINT) AS sum_sent,
        CAST(SUM(CASE WHEN sent > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        CAST(SUM(CASE WHEN sent < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        CAST(SUM(CASE WHEN sent = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neu
      FROM s""" })

  // q39 — dedup clusters: q22's LSH pairs → connected components → the
  // per-cluster size profile plus corpus reduction. Oracle rebuilds the
  // identical pairs, then closes them with a recursive CTE.
  private val q39 = Q(
    "q39_dedup_clusters",
    (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs
      val cl = Dedup.clusters(pairs)
      val sizes = cl.groupBy("cluster").agg(count(lit(1)).as("sz"))
      // corpus size joins in as a broadcast scalar — plan construction
      // stays side-effect-free (no eager count) and the count's scan
      // fuses into the lazy plan
      val total = docs.agg(count(lit(1)).as("__total"))
      sizes.agg(
          count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_clustered_docs"),
          max(col("sz")).as("max_cluster"))
        .crossJoin(broadcast(total))
        .select(col("n_clusters"), col("n_clustered_docs"), col("max_cluster"),
          (col("__total") - col("n_clustered_docs") + col("n_clusters")).as("n_after_dedup"))
    },
    Some {
      s"""WITH $minhashCtes, $ccCtes,
        sizes AS (SELECT cluster, COUNT(*) AS sz FROM cc GROUP BY cluster)
      SELECT COUNT(*) AS n_clusters,
        CAST(SUM(sz) AS BIGINT) AS n_clustered_docs,
        CAST(MAX(sz) AS BIGINT) AS max_cluster,
        CAST((SELECT COUNT(*) FROM documents) - SUM(sz) + COUNT(*) AS BIGINT) AS n_after_dedup
      FROM sizes""" },
    headline = true)

  // q44 — generator/UDTF shape (SURVEY §2.7's explode-style unpivot):
  // explode word tokens, count, top-20. The explode is a narrow op;
  // the count is one shuffle on token.
  private val q44 = Q(
    "q44_token_topk",
    (s, dir) => tbl(s, dir, "documents")
      .select(explode(TextFns.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token"))
      .limit(20),
    Some(s"""SELECT u.token AS token, COUNT(*) AS cnt
      FROM documents, unnest($toks) AS u(token)
      GROUP BY u.token ORDER BY cnt DESC, token ASC LIMIT 20"""))

  // q45 — group-level SimHash via the custom typed Aggregator: one
  // mergeable sketch per source (33-long buffer per group regardless of
  // group size). Oracle recomputes the per-bit majority vote in SQL.
  private val q45 = Q(
    "q45_group_simhash",
    (s, dir) => tbl(s, dir, "documents")
      .withColumn("h", TextFns.fingerprint(col("text")))
      .groupBy("source")
      .agg(graft.functions.SimhashAgg.column(col("h")).as("sketch"),
        count(lit(1)).as("cnt"))
      .orderBy("source"),
    Some(s"""WITH h AS (SELECT source, ${hSql(norm)} AS h FROM documents),
      votes AS (SELECT source, b.range AS bit,
          SUM(CASE WHEN (h >> b.range) & 1 = 1 THEN 1 ELSE 0 END) AS ones,
          COUNT(*) AS n
        FROM h CROSS JOIN range(0, 32) AS b GROUP BY source, b.range)
      SELECT source,
        CAST(SUM(CASE WHEN 2 * ones >= n THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS sketch,
        CAST(MAX(n) AS BIGINT) AS cnt
      FROM votes GROUP BY source ORDER BY source"""))

  // q53 — LSH recall, driver-checked: brute-force word-3-shingle Jaccard
  // ≥ 0.5 (ground truth, O(n²) — verify scale only) vs the banded LSH
  // pipeline of q22, joined pair-for-pair. Both sides are deterministic,
  // so "the LSH approximates well" is a CORRECTNESS row, not a spec-only
  // claim. LSH verification applies the same Jaccard predicate, so
  // n_common should equal n_lsh (candidates are a subset) — the join
  // computes it honestly rather than assuming the subset property.
  private val q53 = Q(
    "q53_lsh_recall",
    (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val brute = Dedup.wordJaccardPairs(docs, "doc_id", "text", shingleN = 3, threshold = 0.5)
        .select("id_a", "id_b")
      val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
        numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs
        .select(col("id_a").as("l_a"), col("id_b").as("l_b"))
      val nLsh = lsh.agg(count(lit(1)).as("n_lsh"))
      brute.join(lsh, col("id_a") === col("l_a") && col("id_b") === col("l_b"), "left")
        .agg(
          count(lit(1)).as("n_brute"),
          coalesce(sum(col("l_a").isNotNull.cast("long")), lit(0L)).as("n_common"))
        .crossJoin(broadcast(nLsh))
        .select(col("n_brute"), col("n_lsh"), col("n_common"),
          Det.roundAt(try_divide(col("n_common").cast("double"),
            col("n_brute")), 6).as("recall"))
    },
    Some(s"""WITH $minhashCtes,
        pairs AS (SELECT id_a, id_b FROM cand
          WHERE ${jaccardSql("sh_a", "sh_b")} >= 0.5),
        brute AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM docs a JOIN docs b ON a.doc_id < b.doc_id
          WHERE ${jaccardSql("a.sh", "b.sh")} >= 0.5),
        counts AS (SELECT
          (SELECT COUNT(*) FROM brute) AS n_brute,
          (SELECT COUNT(*) FROM pairs) AS n_lsh,
          (SELECT COUNT(*) FROM brute t JOIN pairs p
             ON t.id_a = p.id_a AND t.id_b = p.id_b) AS n_common)
      SELECT n_brute, n_lsh, n_common,
        ${Det.roundAtSql("n_common * 1.0 / n_brute", 6)} AS recall
      FROM counts"""))

  // q54 — winnowing (rolling-hash) fingerprint near-dup: positional char
  // 5-gram hashes → min per 4-window → distinct prints → inverted-index
  // self-join → overlap ≥ 0.8 (0.5 drowns in template-shared prints on
  // this corpus: 6k pairs vs 25-34 true near-dups). The oracle re-derives
  // the identical fingerprint sets, so the pairs match exactly.
  private val q54 = Q(
    "q54_winnow_neardup",
    (s, dir) => Dedup.winnowingPairs(tbl(s, dir, "documents"), "doc_id", "text",
      k = 5, w = 4, threshold = 0.8),
    Some {
      val grams = s"list_transform(range(1, greatest(length($norm) - 4, 1) + 1), i -> substr($norm, i, 5))"
      s"""WITH hs AS (SELECT doc_id,
          list_transform($grams, g -> ${hSql("g")}) AS hs FROM documents),
        f AS (SELECT doc_id,
          CASE WHEN len(hs) < 4 THEN [list_min(hs)]
               ELSE list_distinct(list_transform(range(1, len(hs) - 3 + 1), i -> list_min(hs[i:i+3]))) END AS fps
          FROM hs),
        c AS (SELECT doc_id, len(fps) AS nfp FROM f),
        inv AS (SELECT doc_id, u.fp AS fp FROM f, unnest(fps) AS u(fp)),
        ok_fp AS (SELECT fp FROM inv
          GROUP BY fp HAVING COUNT(*) <= ${Dedup.DefaultMaxBucket}),
        inv_ok AS (SELECT i.* FROM inv i JOIN ok_fp USING (fp)),
        shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
          FROM inv_ok a JOIN inv_ok b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        sc AS (SELECT id_a, id_b,
          ${Det.roundAtSql("n_shared * 1.0 / least(ca.nfp, cb.nfp)", 6)} AS overlap
          FROM shared
          JOIN c ca ON ca.doc_id = id_a
          JOIN c cb ON cb.doc_id = id_b)
      SELECT id_a, id_b, overlap FROM sc WHERE overlap >= 0.8
      ORDER BY id_a, id_b""" })

  // q55 — TF-IDF top terms per source (keyword extraction): explode
  // tokens, per-(source, token) tf, per-token document frequency, score
  // tf·(n/df). The idf is LINEAR (n/df), not log — ln() is not
  // bit-identical across libm implementations, while integer-ratio
  // division is IEEE-exact in both engines; ranking for fixed tf is
  // monotone in df either way, and a production pipeline can swap a log
  // idf in where cross-engine hashes are not required. One explode + two
  // aggregates + a per-source WindowGroupLimit top-5 — no O(n²), no
  // driver loop.
  private val q55 = Q(
    "q55_tfidf_topk",
    (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val t = docs.select(col("doc_id"), col("source"),
        explode(TextFns.tokens(col("text"))).as("token"))
      val tf = t.groupBy("source", "token").agg(count(lit(1)).as("tf"))
      val dfreq = t.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.agg(count(lit(1)).as("__n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(desc("tfidf"), asc("token"))
      tf.join(dfreq, "token")
        .crossJoin(broadcast(n))
        .withColumn("tfidf", Det.roundAt(
          col("tf").cast("double") * (col("__n").cast("double") / col("df").cast("double")), 6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("source", "token", "tf", "df", "tfidf", "rank")
        .orderBy("source", "rank")
    },
    Some(s"""WITH t AS (SELECT doc_id, source, u.token AS token
          FROM documents, unnest($toks) AS u(token)),
        tf AS (SELECT source, token, COUNT(*) AS tf FROM t GROUP BY source, token),
        dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY token),
        n AS (SELECT COUNT(*) AS n FROM documents),
        scored AS (SELECT source, token, tf, df,
          ${Det.roundAtSql("CAST(tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(df AS DOUBLE))", 6)} AS tfidf
          FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        r AS (SELECT source, token, tf, df, tfidf,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY tfidf DESC, token ASC) AS rank
          FROM scored)
      SELECT source, token, tf, df, tfidf, rank FROM r WHERE rank <= 5
      ORDER BY source, rank"""))

  // q60 — deterministic hash sampling (~10%): the same rows are in the
  // sample on any engine, at any parallelism, on any retry — rand()-based
  // sampling can guarantee none of that. Narrow filter, no shuffle.
  private val q60 = Q(
    "q60_hash_sample",
    (s, dir) => graft.operators.Sampling.hashSample(tbl(s, dir, "documents"), "doc_id", 10)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
      .orderBy("lang"),
    Some(s"""SELECT lang, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM documents
      WHERE ${hSql("CAST(doc_id AS VARCHAR)")} % 100 < 10
      GROUP BY lang ORDER BY lang"""))

  // q61 — repetition profile (Gopher-style duplicate-trigram fraction)
  // per language: decimal-exact average of a per-row projection.
  private val q61 = Q(
    "q61_repetition",
    (s, dir) => tbl(s, dir, "documents")
      .withColumn("rep", TextFns.repetitionFrac(col("text"), 3))
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"),
        Det.roundAt(Det.dsum(col("rep"), 6) / count(lit(1)), 4).as("avg_rep"),
        sum((col("rep") > 0.2).cast("long")).as("n_repetitive"))
      .orderBy("lang"),
    Some {
      val total = s"greatest(len($toks) - 2, 1)"
      val grams = s"list_transform(range(0, $total), i -> array_to_string(($toks)[i + 1:i + 3], ' '))"
      val rep = Det.roundAtSql(
        s"CAST(len($grams) - len(list_distinct($grams)) AS DOUBLE) / len($grams)", 6)
      s"""WITH r AS (SELECT lang, $rep AS rep FROM documents)
      SELECT lang, COUNT(*) AS cnt,
        ${Det.roundAtSql("CAST(SUM(CAST(rep AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)", 4)} AS avg_rep,
        CAST(SUM(CASE WHEN rep > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
      FROM r GROUP BY lang ORDER BY lang""" })

  // q62 — fixed-size stratified sample: ≤ 50 docs per language, membership
  // decided by hash order (deterministic shuffle-independent "random");
  // the id_sum pins WHICH rows were chosen, not just how many. Rank limit
  // compiles to WindowGroupLimit.
  private val q62 = Q(
    "q62_stratified_sample",
    (s, dir) => graft.operators.Sampling
      .stratifiedSample(tbl(s, dir, "documents"), "lang", "doc_id", 50)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
      .orderBy("lang"),
    Some(s"""WITH r AS (SELECT lang, doc_id,
        ROW_NUMBER() OVER (PARTITION BY lang
          ORDER BY ${hSql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
      FROM documents)
      SELECT lang, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM r WHERE rn <= 50 GROUP BY lang ORDER BY lang"""))

  // q63 — END-TO-END near-dedup: q22's pairs → connected components →
  // keep one representative per cluster (the min id) plus every
  // unclustered doc. The per-language id_sum pins exactly which survivors
  // the engine kept, not just how many — the full production dedup path
  // (the operator a training pipeline actually calls) as one oracle row.
  private val q63 = Q(
    "q63_dedup_apply",
    (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs
      Dedup.dedupByClusters(docs, "doc_id", pairs)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .orderBy("lang")
    },
    Some(s"""WITH $minhashCtes, $ccCtes
      SELECT lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM documents
      WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster)
      GROUP BY lang ORDER BY lang"""))

  // q68 — frequent-items sketch (approx_top_k) under a bounds oracle,
  // q36's pattern for the heavy-hitters family: the exact top-3 tokens
  // (anchors both engines compute) must all appear in the sketch's top-5.
  // The exact side is TakeOrderedAndProject (scale-safe top-k, no
  // unpartitioned window); the sketch side is one mergeable aggregate.
  private val q68 = Q(
    "q68_approx_topk",
    (s, dir) => {
      val toksDf = tbl(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("token"))
      val counts = toksDf.groupBy("token").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("cnt"), asc("token")) // over 3 rows post-limit
      val exact3 = counts.orderBy(desc("cnt"), asc("token")).limit(3)
        .withColumn("rn", row_number().over(w))
        .agg(
          max(when(col("rn") === 1, col("token"))).as("t1"),
          max(when(col("rn") === 1, col("cnt"))).as("c1"),
          max(when(col("rn") === 2, col("token"))).as("t2"),
          max(when(col("rn") === 2, col("cnt"))).as("c2"),
          max(when(col("rn") === 3, col("token"))).as("t3"),
          max(when(col("rn") === 3, col("cnt"))).as("c3"))
      val apx = toksDf.agg(expr("approx_top_k(token, 5)").as("__apx"))
      def in(t: Column) = exists(col("__apx"), x => x.getField("item") === t)
      exact3.crossJoin(broadcast(apx))
        .select(col("t1"), col("c1"), col("t2"), col("c2"), col("t3"), col("c3"),
          (in(col("t1")) && in(col("t2")) && in(col("t3"))).as("topk_ok"))
    },
    Some(s"""WITH c AS (SELECT u.token AS token, COUNT(*) AS cnt
          FROM documents, unnest($toks) AS u(token) GROUP BY 1),
        r AS (SELECT token, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rn FROM c)
      SELECT max(CASE WHEN rn = 1 THEN token END) AS t1,
        CAST(max(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS c1,
        max(CASE WHEN rn = 2 THEN token END) AS t2,
        CAST(max(CASE WHEN rn = 2 THEN cnt END) AS BIGINT) AS c2,
        max(CASE WHEN rn = 3 THEN token END) AS t3,
        CAST(max(CASE WHEN rn = 3 THEN cnt END) AS BIGINT) AS c3,
        TRUE AS topk_ok
      FROM r WHERE rn <= 3"""))

  // q72 — PII scrubbing (emails / phones / IPv4 → typed tags), a
  // first-class training-data op. The corpus contains no PII by
  // construction, so the query DERIVES identical PII-bearing text from
  // events columns in both engines (same concat → same bytes), then
  // scrubs and counts. Patterns are ASCII-only so Java regex and RE2
  // agree; DuckDB regexp_replace needs the 'g' flag to match Spark's
  // replace-all. Per-row projection work only + one groupBy shuffle.
  private val q72 = Q(
    "q72_pii_scrub",
    (s, dir) => {
      val contact = concat(lit("contact u"), col("user_id").cast("string"),
        lit("@mail.example.com"))
      val raw = concat(
        when(col("event_type") =!= "click", contact).otherwise(lit("no email on file")),
        lit(" call +1-555-"),
        lpad(pmod(col("event_id"), lit(10000L)).cast("string"), 4, "0"),
        lit(" from 10.0."), pmod(col("user_id"), lit(256L)).cast("string"), lit(".9"))
      tbl(s, dir, "events")
        .withColumn("raw", raw)
        .withColumn("clean", TextFns.scrubPii(col("raw")))
        .withColumn("pii", TextFns.piiCounts(col("raw")))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(col("pii.emails").cast("long")).as("emails"),
          sum(col("pii.phones").cast("long")).as("phones"),
          sum(col("pii.ips").cast("long")).as("ips"),
          sum((length(col("raw")) - length(col("clean"))).cast("long")).as("chars_delta"))
        .orderBy("event_type")
    },
    Some(s"""WITH t AS (SELECT event_type,
        (CASE WHEN event_type <> 'click'
              THEN 'contact u' || CAST(user_id AS VARCHAR) || '@mail.example.com'
              ELSE 'no email on file' END)
        || ' call +1-555-' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
        || ' from 10.0.' || CAST(user_id % 256 AS VARCHAR) || '.9' AS raw
      FROM events),
      c AS (SELECT event_type, raw,
        regexp_replace(regexp_replace(regexp_replace(raw,
          '${TextFns.EmailRe}', '<EMAIL>', 'g'),
          '${TextFns.PhoneRe}', '<PHONE>', 'g'),
          '${TextFns.Ipv4Re}', '<IP>', 'g') AS clean
      FROM t)
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(len(regexp_extract_all(raw, '${TextFns.EmailRe}'))) AS BIGINT) AS emails,
        CAST(SUM(len(regexp_extract_all(raw, '${TextFns.PhoneRe}'))) AS BIGINT) AS phones,
        CAST(SUM(len(regexp_extract_all(raw, '${TextFns.Ipv4Re}'))) AS BIGINT) AS ips,
        CAST(SUM(len(raw) - len(clean)) AS BIGINT) AS chars_delta
      FROM c GROUP BY event_type ORDER BY event_type"""))

  // q73 — streaming-ingest near-dup suppression, batch twin: with
  // arrival order = ascending doc_id, the first doc claims each LSH band
  // bucket and any later doc landing in a claimed bucket is suppressed —
  // the exact first-in-bucket state Streams.lshBandHits keeps (the
  // streaming ≡ batch equivalence is asserted in StreamsSpec on this
  // same table). Reuses q22's band CTEs, so the bucket space is
  // literally identical across q22 / q39 / q73 and the stream.
  private val q73 = Q(
    "q73_stream_neardup_twin",
    (s, dir) => Dedup.seqFirstBucketStats(tbl(s, dir, "documents"), "doc_id", "text"),
    Some(s"""WITH $minhashCtes,
        bm AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY band, key) AS bmin FROM banded),
        per AS (SELECT doc_id, MIN(bmin) AS first_seen FROM bm GROUP BY doc_id)
      SELECT COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN first_seen < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_suppressed,
        CAST(SUM(CASE WHEN first_seen >= doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN first_seen >= doc_id THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
      FROM per"""))

  // q75 — context-length chunking (sequence packing's first half): every
  // document splits into ceil(n_tokens/50) fixed-size chunks, emitted as
  // one row per chunk with its token count (the tail chunk is partial).
  // A narrow explode — no shuffle until the final sort — and the chunk
  // arithmetic is pure integers, so the lateral-range DuckDB mirror is
  // exact. Empty docs produce no chunks.
  private val q75 = Q(
    "q75_token_chunks",
    (s, dir) => tbl(s, dir, "documents")
      .select(col("doc_id"), TextFns.tokenCount(col("text")).cast("long").as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("n"),
        explode(sequence(lit(0L), floor((col("n") + 49L) / 50L).cast("long") - 1L))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(50L), col("n") - col("chunk_idx") * 50L).as("chunk_tokens"))
      .orderBy("doc_id", "chunk_idx"),
    Some(s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n FROM documents)
      SELECT doc_id, CAST(u.chunk_idx AS BIGINT) AS chunk_idx,
        least(50, n - u.chunk_idx * 50) AS chunk_tokens
      FROM t, unnest(range((n + 49) // 50)) AS u(chunk_idx)
      WHERE n > 0 ORDER BY doc_id, chunk_idx"""))

  // q82 — sequence packing (operators/Packing.scala) over q75's chunks:
  // the chunk stream in (doc_id, chunk_idx) order is laid out
  // contiguously and split every 200 tokens. Chunks may straddle a
  // boundary, so a chunk contributes a row per window it touches; every
  // window but the last must carry exactly 200 tokens — the oracle pins
  // the per-window totals, span counts, and distinct-doc counts against
  // a global-cumsum mirror. Spark computes the prefix sum in two levels
  // (per doc_id/64 group + a tiny over-groups offset window) so no
  // single-partition pass touches the full stream.
  private val q82 = Q(
    "q82_sequence_packing",
    (s, dir) => {
      val chunks = tbl(s, dir, "documents")
        .select(col("doc_id"), TextFns.tokenCount(col("text")).cast("long").as("n"))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("n"),
          explode(sequence(lit(0L), floor((col("n") + 49L) / 50L).cast("long") - 1L))
            .as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          least(lit(50L), col("n") - col("chunk_idx") * 50L).as("chunk_tokens"))
        .withColumn("pack_g", floor(col("doc_id") / 64L).cast("long"))
      graft.operators.Packing
        .packWindows(chunks, "pack_g", Seq("doc_id", "chunk_idx"), "chunk_tokens", 200L)
        .groupBy("window_id")
        .agg(sum(col("tok_in_window")).as("window_tokens"),
          count(lit(1)).as("n_chunk_spans"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("window_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n FROM documents),
      ch AS (SELECT doc_id, CAST(u.chunk_idx AS BIGINT) AS chunk_idx,
          least(50, n - u.chunk_idx * 50) AS chunk_tokens
        FROM t, unnest(range((n + 49) // 50)) AS u(chunk_idx) WHERE n > 0),
      c AS (SELECT doc_id, chunk_idx, chunk_tokens,
          CAST(SUM(chunk_tokens) OVER (ORDER BY doc_id, chunk_idx
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM ch),
      sp AS (SELECT doc_id, cum - chunk_tokens AS st, cum AS en FROM c),
      w AS (SELECT doc_id, u.wid AS window_id,
          least(en, (u.wid + 1) * 200) - greatest(st, u.wid * 200) AS tok
        FROM sp, unnest(range(st // 200, (en - 1) // 200 + 1)) AS u(wid))
      SELECT window_id, CAST(SUM(tok) AS BIGINT) AS window_tokens,
        COUNT(*) AS n_chunk_spans, COUNT(DISTINCT doc_id) AS n_docs
      FROM w GROUP BY window_id ORDER BY window_id"""))

  // q83 — BM25 retrieval (operators/Rank.scala): top-5 docs per query
  // term. The term filter runs before any shuffle (an inverted-index
  // lookup in spirit), corpus stats ride as broadcast scalars, and the
  // linear idf + fixed-order double arithmetic keep scores bit-equal in
  // both engines (every SQL literal is CAST to DOUBLE so DuckDB's
  // decimal literal arithmetic cannot fold differently than Catalyst).
  /** CTE body of the BM25 mirror (ends at the full per-term ranking
    * `r`) — shared by q83/q95 (top-k slice) and q159 (NDCG eval over the
    * whole ranking). */
  private[graft] def bm25Ctes(termsSql: String): String = {
    val k1 = "CAST(1.2 AS DOUBLE)"
    val b = "CAST(0.75 AS DOUBLE)"
    val score = Det.roundAtSql(
      s"""((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
          (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
        * (CAST(tf AS DOUBLE) * ($k1 + CAST(1 AS DOUBLE)))
        / (CAST(tf AS DOUBLE) + $k1 *
           (CAST(1 AS DOUBLE) - $b + $b * CAST(dl AS DOUBLE) * CAST(n AS DOUBLE)
            / CAST(sumdl AS DOUBLE)))""", 6)
    s"""base AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS dl FROM documents),
      stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl FROM base),
      t AS (SELECT doc_id, u.term AS term FROM documents, unnest($toks) AS u(term)
        WHERE u.term IN ($termsSql)),
      tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM t GROUP BY term, doc_id),
      dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      scored AS (SELECT term, tf.doc_id, tf, df, dl, $score AS score
        FROM tf JOIN base USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats),
      r AS (SELECT term, doc_id, tf, df, score,
        ROW_NUMBER() OVER (PARTITION BY term ORDER BY score DESC, doc_id ASC) AS rank
        FROM scored)"""
  }

  /** Full BM25 SQL mirror of [[graft.operators.Rank.bm25TopK]] — shared
    * by q83 and the q95 hybrid-search fusion. */
  private[graft] def bm25Sql(termsSql: String, topK: Int): String =
    s"""WITH ${bm25Ctes(termsSql)}
    SELECT term, doc_id, tf, df, score, rank FROM r WHERE rank <= $topK
    ORDER BY term, rank"""

  private val q83 = Q(
    "q83_bm25_topk",
    (s, dir) => graft.operators.Rank.bm25TopK(
      tbl(s, dir, "documents"), "doc_id", "text",
      Seq("join", "window", "merge")),
    Some(bm25Sql("'join', 'window', 'merge'", 5)))

  // q88 — bigram language-model counts: adjacent token pairs per doc via
  // an index-fold over the token array (no self-join — the classic
  // n-gram-count shuffle is one explode + one groupBy), top-20 with a
  // full tie-break. The `size >= 2` guard matters: Spark's `sequence`
  // runs DESCENDING when start > stop, so unguarded empty docs would
  // fabricate a [1,0] index pair.
  private val q88 = Q(
    "q88_bigram_counts",
    (s, dir) => {
      val t = TextFns.tokens(col("text"))
      tbl(s, dir, "documents")
        .select(t.as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat(element_at(col("toks"), i), lit(" "),
            element_at(col("toks"), i + 1)))).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("bigram"))
        .limit(20)
    },
    Some(s"""WITH d AS (SELECT $toks AS toks FROM documents),
        bg AS (SELECT u.bigram AS bigram
          FROM d, unnest(list_transform(range(1, len(toks)),
            i -> toks[i] || ' ' || toks[i + 1])) AS u(bigram)
          WHERE len(toks) >= 2)
      SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram
      ORDER BY cnt DESC, bigram ASC LIMIT 20"""))

  // q96 — benchmark contamination (operators/Dedup.contamination): docs
  // outside the held-out sources flagged when ≥ 20% of their word
  // 3-shingles appear in the benchmark set (src0/src1) — the train/test
  // leakage scan of an eval-safe corpus build. Corpus side is explode →
  // broadcast semi join → per-doc partial count; only (doc, count)
  // partials shuffle, and zero-overlap docs vanish in the semi join.
  private val q96 = Q(
    "q96_contamination",
    (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val benchSrc = col("source").isin("src0", "src1")
      Dedup.contamination(docs.filter(!benchSrc), docs.filter(benchSrc),
        "doc_id", "text", shingleN = 3, minRatio = 0.2)
    },
    Some(s"""WITH docs AS (SELECT doc_id, source, ${wordShinglesSql(3)} AS shs FROM documents),
        bench AS (SELECT DISTINCT u.sh FROM docs, unnest(shs) AS u(sh)
          WHERE source IN ('src0', 'src1')),
        cand AS (SELECT doc_id, len(shs) AS n_shingles, u.sh AS sh
          FROM docs, unnest(shs) AS u(sh) WHERE source NOT IN ('src0', 'src1')),
        hits AS (SELECT doc_id, n_shingles, COUNT(*) AS n_overlap
          FROM cand JOIN bench USING (sh) GROUP BY doc_id, n_shingles)
      SELECT doc_id, n_shingles, n_overlap,
        ${Det.roundAtSql("n_overlap * 1.0 / n_shingles", 6)} AS overlap_ratio
      FROM hits WHERE ${Det.roundAtSql("n_overlap * 1.0 / n_shingles", 6)} >= 0.2
      ORDER BY doc_id"""))

  // q99 — mixture rebalance (operators/Sampling.mixtureRebalance): the
  // corpus downsampled toward a 4:2:2:1:1 language mixture. Budgets are
  // integer-exact from the observed counts, membership is the hash rule
  // u(id)·n_total < n_target·10⁶ — broadcast targets, narrow filter, no
  // per-group global ranking anywhere.
  private val q99 = Q(
    "q99_mixture_rebalance",
    (s, dir) => graft.operators.Sampling.mixtureRebalance(
      tbl(s, dir, "documents"), "lang", "doc_id",
      Map("en" -> 4, "es" -> 2, "de" -> 2, "fr" -> 1, "zh" -> 1)),
    Some(s"""WITH c AS (SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang),
        w AS (SELECT lang, n_total, CASE lang WHEN 'en' THEN 4 WHEN 'es' THEN 2
            WHEN 'de' THEN 2 WHEN 'fr' THEN 1 WHEN 'zh' THEN 1 END AS w FROM c),
        b AS (SELECT MIN(n_total * 10 // w) AS budget FROM w),
        t AS (SELECT lang, n_total, (w * budget) // 10 AS n_target FROM w, b),
        kept AS (SELECT d.lang, n_total, n_target, d.doc_id
          FROM documents d JOIN t USING (lang)
          WHERE (${hSql("CAST(doc_id AS VARCHAR)")} % 1000000) * n_total
            < n_target * 1000000)
      SELECT lang, n_total, n_target, COUNT(*) AS n_kept,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM kept GROUP BY lang, n_total, n_target ORDER BY lang"""))

  // q104 — decontamination APPLY (q96's flags put to work, as q63 does
  // for dedup clusters): drop flagged docs from the training side with a
  // left-anti join and summarize the surviving corpus per language. The
  // anti join's right side is the small flagged-id set — broadcast.
  private val q104 = Q(
    "q104_decontaminate",
    (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val benchSrc = col("source").isin("src0", "src1")
      val flagged = Dedup.contamination(docs.filter(!benchSrc),
        docs.filter(benchSrc), "doc_id", "text", shingleN = 3, minRatio = 0.2)
        .select("doc_id")
      docs.filter(!benchSrc)
        .join(broadcast(flagged), Seq("doc_id"), "left_anti")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("lang")
    },
    Some(s"""WITH docs AS (SELECT doc_id, source, lang, ${wordShinglesSql(3)} AS shs FROM documents),
        bench AS (SELECT DISTINCT u.sh FROM docs, unnest(shs) AS u(sh)
          WHERE source IN ('src0', 'src1')),
        cand AS (SELECT doc_id, len(shs) AS n_shingles, u.sh AS sh
          FROM docs, unnest(shs) AS u(sh) WHERE source NOT IN ('src0', 'src1')),
        hits AS (SELECT doc_id, n_shingles, COUNT(*) AS n_overlap
          FROM cand JOIN bench USING (sh) GROUP BY doc_id, n_shingles),
        flagged AS (SELECT doc_id FROM hits
          WHERE ${Det.roundAtSql("n_overlap * 1.0 / n_shingles", 6)} >= 0.2)
      SELECT lang, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM documents
      WHERE source NOT IN ('src0', 'src1')
        AND doc_id NOT IN (SELECT doc_id FROM flagged)
      GROUP BY lang ORDER BY lang"""))

  // q105 — C4-style boilerplate detection: non-overlapping word 5-gram
  // SEGMENTS, hashed to 60 bits (the corpus-wide shuffle carries a long,
  // never phrase text), global document-frequency per segment hash,
  // segments seen in ≥ 2 distinct docs flagged as boilerplate. Per-source
  // totals with integer-exact sums. One explode + two shuffles (df agg +
  // source agg) — no self-join, no O(n²) stage; at 100 TB the df relation
  // is (hash, df) longs and the re-join is a plain shuffle join.
  private val q105 = Q(
    "q105_boilerplate",
    (s, dir) => {
      val segs = tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(TextFns.segments(col("text"), 5)).as("seg"))
        .select(col("doc_id"), col("source"),
          TextFns.portableHash(col("seg")).as("seg_h"))
      val dfreq = segs.groupBy("seg_h")
        .agg(countDistinct(col("doc_id")).as("df"))
      segs.join(dfreq, "seg_h")
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_segments"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_boiler"))
        .withColumn("boiler_frac",
          Det.roundAt(col("n_boiler").cast("double") / col("n_segments"), 6))
        .select("source", "n_docs", "n_segments", "n_boiler", "boiler_frac")
        .orderBy("source")
    },
    Some(s"""WITH t AS (SELECT doc_id, source, $toks AS tk FROM documents),
        segs AS (SELECT doc_id, source, ${hSql("u.seg")} AS seg_h
          FROM t, unnest(list_transform(range(0, len(tk) // 5),
            i -> array_to_string(tk[5*i+1:5*i+5], ' '))) AS u(seg)),
        dfreq AS (SELECT seg_h, COUNT(DISTINCT doc_id) AS df
          FROM segs GROUP BY seg_h)
      SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_segments,
        CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        ${Det.roundAtSql(
          "SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)", 6)} AS boiler_frac
      FROM segs JOIN dfreq USING (seg_h)
      GROUP BY source ORDER BY source"""))

  // q107 — PageRank (3 unrolled iterations, damping 0.85) over the
  // verified MinHash-LSH near-dup graph: centrality-based canonical
  // selection. Neighbor contributions are rounded to 12 digits and summed
  // as DECIMAL(28,12) (order-independent), so the oracle — which unrolls
  // the identical iterations over the identical candidate pairs — matches
  // bit-for-bit. Constant-depth lazy plan; rank state is O(|V|).
  private val q107 = Q(
    "q107_pagerank",
    (s, dir) => Dedup.pageRank(
      Dedup.minhashLshPairs(tbl(s, dir, "documents"), "doc_id", "text",
        numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs
        .select("id_a", "id_b"),
      iters = 3, damping = 0.85),
    Some {
      val iterCtes = (1 to 3).map { i =>
        s"""c$i AS (SELECT wd.dst AS id,
            CAST(SUM(CAST(${Det.roundAtSql("r.rank / wd.deg", 12)} AS DECIMAL(28,12))) AS DOUBLE) AS s
          FROM wd JOIN r${i - 1} r ON wd.src = r.id GROUP BY wd.dst),
        r$i AS (SELECT id, ${Det.roundAtSql(
          "CAST('0.15' AS DOUBLE) + CAST('0.85' AS DOUBLE) * s", 12)} AS rank FROM c$i)"""
      }.mkString(",\n        ")
      s"""WITH $minhashCtes,
        pairs AS (SELECT id_a, id_b FROM cand
          WHERE ${jaccardSql("sh_a", "sh_b")} >= 0.5),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
        wd AS (SELECT src, dst, COUNT(*) OVER (PARTITION BY src) AS deg FROM edges),
        r0 AS (SELECT DISTINCT src AS id, CAST(1.0 AS DOUBLE) AS rank FROM wd),
        $iterCtes
      SELECT id AS doc_id, ${Det.roundAtSql("rank", 6)} AS pagerank
      FROM r3 ORDER BY pagerank DESC, doc_id""" })

  // q108 — token diversity (Simpson index 1 − Σc²/n²): a quality-filter
  // signal that needs no libm log — per-doc sums are integer-exact, the
  // per-source mean is a decimal-exact sum of 6-digit-rounded values.
  // Degenerate/looping text scores low; pairs with q61's repetition
  // fraction. Two aggregates over one explode; no joins.
  private val q108 = Q(
    "q108_token_diversity",
    (s, dir) => {
      val t = tbl(s, dir, "documents").select(col("doc_id"), col("source"),
        explode(TextFns.tokens(col("text"))).as("token"))
      val perDoc = t.groupBy("source", "doc_id", "token")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("source", "doc_id")
        .agg(sum("cnt").as("n"), sum(col("cnt") * col("cnt")).as("s2"))
        .withColumn("div", Det.roundAt(
          lit(1.0) - col("s2").cast("double") / (col("n") * col("n")).cast("double"), 6))
      perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          Det.roundAt(Det.dsum(col("div"), 6) / count(lit(1)), 6).as("avg_diversity"),
          min("div").as("min_diversity"),
          max("div").as("max_diversity"))
        .orderBy("source")
    },
    Some(s"""WITH t AS (SELECT doc_id, source, u.token AS token
          FROM documents, unnest($toks) AS u(token)),
        c AS (SELECT source, doc_id, token, COUNT(*) AS cnt
          FROM t GROUP BY source, doc_id, token),
        d AS (SELECT source, doc_id, CAST(SUM(cnt) AS BIGINT) AS n,
            CAST(SUM(cnt * cnt) AS BIGINT) AS s2
          FROM c GROUP BY source, doc_id),
        v AS (SELECT source, ${Det.roundAtSql(
          "1.0 - CAST(s2 AS DOUBLE) / CAST(n * n AS DOUBLE)", 6)} AS div FROM d)
      SELECT source, COUNT(*) AS n_docs,
        ${Det.roundAtSql(
          "CAST(SUM(CAST(div AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)", 6)} AS avg_diversity,
        MIN(div) AS min_diversity, MAX(div) AS max_diversity
      FROM v GROUP BY source ORDER BY source"""))

  // q110 — boilerplate STRIP (q105's flags applied — the q63/q104
  // detect→apply pattern): per doc, drop segments whose global doc-
  // frequency ≥ 2 and reconstruct the cleaned text in segment order. The
  // output carries a 60-bit hash of the reconstruction, so the oracle —
  // which rebuilds the identical string in DuckDB — checks the cleaned
  // TEXT exactly, not just its length. Docs with no surviving segment
  // drop out (inner semantics, mirrored in SQL). Same scale shape as
  // q105 plus one key-grain reassembly groupBy; per-doc segment arrays
  // are bounded by doc length, never corpus size.
  private val q110 = Q(
    "q110_boilerplate_strip",
    (s, dir) => {
      val segs = tbl(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextFns.segments(col("text"), 5)).as(Seq("pos", "seg")))
        .withColumn("seg_h", TextFns.portableHash(col("seg")))
      val dfreq = segs.groupBy("seg_h").agg(countDistinct(col("doc_id")).as("df"))
      segs.join(dfreq, "seg_h").filter(col("df") < 2)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("pos"), col("seg")))),
            x => x("seg"))).as("__clean"))
        .select(col("doc_id"), col("n_kept"),
          length(col("__clean")).cast("long").as("clean_chars"),
          TextFns.portableHash(col("__clean")).as("clean_h"))
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
        segs AS (SELECT doc_id, r.pos AS pos,
            array_to_string(tk[5*r.pos+1:5*r.pos+5], ' ') AS seg
          FROM t, unnest(range(0, len(tk) // 5)) AS r(pos)),
        h AS (SELECT doc_id, pos, seg, ${hSql("seg")} AS seg_h FROM segs),
        dfreq AS (SELECT seg_h, COUNT(DISTINCT doc_id) AS df
          FROM h GROUP BY seg_h),
        kept AS (SELECT doc_id, pos, seg
          FROM h JOIN dfreq USING (seg_h) WHERE df < 2),
        rec AS (SELECT doc_id, COUNT(*) AS n_kept,
            string_agg(seg, ' ' ORDER BY pos) AS clean
          FROM kept GROUP BY doc_id)
      SELECT doc_id, n_kept, CAST(length(clean) AS BIGINT) AS clean_chars,
        ${hSql("clean")} AS clean_h
      FROM rec ORDER BY doc_id"""))

  // q113 — one BPE merge-candidate step (the pair-count core of
  // byte-pair-encoding tokenizer training, Sennrich et al. 2016): build
  // the word-frequency table, expand each DISTINCT word into its adjacent
  // character pairs, and weight each pair by word frequency. Top-20 pairs
  // = the next-merge candidates. Scale shape: pair expansion runs over
  // the distinct-word relation (vocabulary-sized, not corpus-sized) after
  // a single token explode + count shuffle — the corpus-scale data never
  // carries the per-character expansion.
  private val q113 = Q(
    "q113_bpe_merge",
    (s, dir) => {
      val words = tbl(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
      words
        .select(col("freq"), explode(expr(
          """filter(transform(sequence(1, greatest(char_length(w) - 1, 1)),
               i -> substr(w, i, 2)), p -> char_length(p) = 2)""")).as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("cnt"))
        .orderBy(desc("cnt"), asc("pair")).limit(20)
    },
    Some(s"""WITH words AS (SELECT u.w AS w, COUNT(*) AS freq
          FROM (SELECT $toks AS tk FROM documents), unnest(tk) AS u(w)
          GROUP BY u.w),
        pairs AS (SELECT freq, p.pair AS pair
          FROM words, unnest(list_filter(list_transform(
              range(1, greatest(len(w) - 1, 1) + 1), i -> substr(w, i, 2)),
            x -> len(x) = 2)) AS p(pair))
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM pairs GROUP BY pair
      ORDER BY cnt DESC, pair ASC LIMIT 20"""))

  // q114 — sliding-window exact substring dedup (the span-grain pass of
  // Lee et al. 2021, "Deduplicating Training Data Makes Language Models
  // Better"): hash every 8-token sliding shingle, mark spans whose
  // document frequency ≥ 2, and flag documents where ≥ 50% of spans are
  // duplicated. Unlike q105's disjoint 5-token segments, the sliding
  // window catches duplicated passages at ANY token offset. Shuffles
  // carry (doc_id, span_hash) longs only — never the span text.
  private val q114 = Q(
    "q114_span_dedup",
    (s, dir) => {
      // the span explode + hash is the dominant cost — materialize it once
      // (slim (doc_id, source, h) rows) so the df-count branch and the
      // join probe side both read the checkpoint instead of re-hashing
      // the corpus (same pattern as the LSH band relation)
      val spans = graft.operators.Ckpt.local(tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(TextFns.wordShingles(col("text"), 8)).as("span"))
        .select(col("doc_id"), col("source"),
          TextFns.portableHash(col("span")).as("h")))
      val dfreq = spans.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("df"))
      spans.join(dfreq, "h")
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_frac",
          Det.roundAt(col("n_dup").cast("double") / col("n_spans"), 6))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("dup_frac") >= 0.5, 1L).otherwise(0L)).as("n_flagged"),
          Det.roundAt(max(col("dup_frac")), 6).as("max_frac"))
        .orderBy("source")
    },
    Some(s"""WITH spans AS (SELECT doc_id, source, ${hSql("u.span")} AS h
          FROM (SELECT doc_id, source, ${wordShinglesSql(8)} AS sh FROM documents),
            unnest(sh) AS u(span)),
        dfreq AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM spans GROUP BY h),
        perdoc AS (SELECT doc_id, source, COUNT(*) AS n_spans,
            SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup
          FROM spans JOIN dfreq USING (h) GROUP BY doc_id, source),
        fr AS (SELECT doc_id, source,
            ${Det.roundAtSql("n_dup * 1.0 / n_spans", 6)} AS dup_frac
          FROM perdoc)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN dup_frac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        ${Det.roundAtSql("MAX(dup_frac)", 6)} AS max_frac
      FROM fr GROUP BY source ORDER BY source"""))

  // q117 — triangle census of the verified MinHash-LSH near-dup graph:
  // triangle-dense regions are boilerplate families (every pair
  // near-identical), sparse chains are topic drift. Degree-oriented
  // wedge join — each triangle counted once at its min-degree vertex,
  // wedge fan-out bounded by orientation out-degree (O(√m)), never hub
  // degree. The oracle re-derives the identical pair set (shared
  // minhashCtes) and the identical orientation.
  private val q117 = Q(
    "q117_triangles",
    (s, dir) => Dedup.triangleCount(
      Dedup.minhashLshPairs(tbl(s, dir, "documents"), "doc_id", "text",
        numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs
        .select("id_a", "id_b")),
    Some(s"""WITH $minhashCtes,
        pairs AS (SELECT id_a, id_b FROM cand
          WHERE ${jaccardSql("sh_a", "sh_b")} >= 0.5),
        deg AS (SELECT v, COUNT(*) AS d FROM (
            SELECT id_a AS v FROM pairs UNION ALL SELECT id_b FROM pairs)
          GROUP BY v),
        oriented AS (SELECT
            CASE WHEN da.d < db.d OR (da.d = db.d AND id_a < id_b)
                 THEN id_a ELSE id_b END AS s,
            CASE WHEN da.d < db.d OR (da.d = db.d AND id_a < id_b)
                 THEN id_b ELSE id_a END AS t
          FROM pairs JOIN deg da ON da.v = id_a JOIN deg db ON db.v = id_b),
        wedges AS (SELECT e1.t AS u, e2.t AS w
          FROM oriented e1 JOIN oriented e2 ON e1.s = e2.s AND e1.t < e2.t),
        closed AS (SELECT * FROM wedges JOIN pairs
          ON u = id_a AND w = id_b)
      SELECT (SELECT COUNT(*) FROM deg) AS n_vertices,
        (SELECT COUNT(*) FROM pairs) AS n_edges,
        (SELECT COUNT(*) FROM closed) AS n_triangles"""))

  // q242 — GLOBAL CLUSTERING COEFFICIENT of the near-dup graph:
  // 3·triangles / wedges, with wedges = Σ d(d−1)/2 off the same pair
  // list q117 orients — near-dup graphs should be clique-like (high
  // coefficient); a low value means LSH banding is chaining unrelated
  // docs. Pairs are checkpointed once and feed both the degree-oriented
  // triangle count and the degree-moment wedge sum; all integer
  // numerators, one final double division.
  private val q242 = Q(
    "q242_clustering_coef",
    (s, dir) => {
      val pairs = graft.operators.Ckpt.local(
        Dedup.minhashLshPairs(tbl(s, dir, "documents"), "doc_id", "text",
          numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs
          .select("id_a", "id_b"))
      val tri = Dedup.triangleCount(pairs)
      val wedges = pairs
        .select(explode(array(col("id_a"), col("id_b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("d"))
        .agg(sum((col("d") * (col("d") - 1) / 2).cast("long")).as("n_wedges"))
      tri.crossJoin(broadcast(wedges))
        .select(col("n_vertices"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          Det.roundAt(lit(3.0) * col("n_triangles").cast("double")
            / col("n_wedges").cast("double"), 6).as("clustering_coef"))
    },
    Some(s"""WITH $minhashCtes,
        pairs AS (SELECT id_a, id_b FROM cand
          WHERE ${jaccardSql("sh_a", "sh_b")} >= 0.5),
        deg AS (SELECT v, COUNT(*) AS d FROM (
            SELECT id_a AS v FROM pairs UNION ALL SELECT id_b FROM pairs)
          GROUP BY v),
        wg AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
        oriented AS (SELECT
            CASE WHEN da.d < db.d OR (da.d = db.d AND id_a < id_b)
                 THEN id_a ELSE id_b END AS s,
            CASE WHEN da.d < db.d OR (da.d = db.d AND id_a < id_b)
                 THEN id_b ELSE id_a END AS t
          FROM pairs JOIN deg da ON da.v = id_a JOIN deg db ON db.v = id_b),
        wedges AS (SELECT e1.t AS u, e2.t AS w
          FROM oriented e1 JOIN oriented e2 ON e1.s = e2.s AND e1.t < e2.t),
        closed AS (SELECT * FROM wedges JOIN pairs ON u = id_a AND w = id_b)
      SELECT (SELECT COUNT(*) FROM deg) AS n_vertices,
        (SELECT COUNT(*) FROM pairs) AS n_edges,
        (SELECT n_wedges FROM wg) AS n_wedges,
        (SELECT COUNT(*) FROM closed) AS n_triangles,
        ${Det.roundAtSql(
          "3.0 * CAST((SELECT COUNT(*) FROM closed) AS DOUBLE) / CAST((SELECT n_wedges FROM wg) AS DOUBLE)",
          6)} AS clustering_coef"""))

  // q118 — EXACT set-similarity join via prefix filtering (AllPairs /
  // PPJoin): provably identical output to q24's brute-force Jaccard scan
  // WITHOUT the n² compare — candidates must share one globally-rare
  // prefix element. The lossless exact-join counterpart to the q22 LSH
  // approximation; DedupSpec asserts prefix ≡ brute on a fixture, the
  // oracle re-derives the same prefix blocking, and the driver's q24 row
  // pins the identical final pair set at the same threshold+shingling.
  private val q118 = Q(
    "q118_prefix_join",
    (s, dir) => Dedup.prefixJaccardPairs(tbl(s, dir, "documents"),
      "doc_id", "text", shingleN = 3, threshold = 0.5),
    Some(s"""WITH tk AS (SELECT doc_id, ${wordShinglesSql(3)} AS sh FROM documents),
        posting AS (SELECT doc_id, u.el AS el FROM tk, unnest(sh) AS u(el)),
        dfreq AS (SELECT el, COUNT(*) AS cnt FROM posting GROUP BY el),
        ordered AS (SELECT doc_id, array_agg(el ORDER BY cnt, el) AS sorted
          FROM posting JOIN dfreq USING (el) GROUP BY doc_id),
        pre AS (SELECT doc_id, u.el AS el FROM (
            SELECT doc_id, sorted[1:CAST(len(sorted) - ceil(0.5 * len(sorted)) + 1 AS BIGINT)] AS p
            FROM ordered), unnest(p) AS u(el)),
        ok_el AS (SELECT el FROM pre
          GROUP BY el HAVING COUNT(*) <= ${Dedup.DefaultMaxBucket}),
        pre_ok AS (SELECT p.* FROM pre p JOIN ok_el USING (el)),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM pre_ok a JOIN pre_ok b ON a.el = b.el AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, ${jaccardSql("ta.sh", "tb.sh")} AS jaccard
      FROM cand JOIN tk ta ON ta.doc_id = id_a JOIN tk tb ON tb.doc_id = id_b
      WHERE ${jaccardSql("ta.sh", "tb.sh")} >= 0.5
      ORDER BY id_a, id_b"""))

  // q119 — the end-to-end corpus CURATION FUNNEL every training-data
  // build runs: language filter → quality filter → MinHash-LSH near-dup
  // (keep-min-id over the SURVIVOR set) → final report of docs/tokens
  // per drop reason. Composes q25's language ID, q26's quality score and
  // q22's LSH pass into one lazy plan; the expensive LSH stage sees only
  // filter survivors, the way a production pipeline orders its stages
  // (cheap row-local filters before pair generation). The oracle chains
  // the SAME shared SQL fragments, so the whole funnel is checked
  // bit-for-bit, not stage-by-stage.
  private val q119 = Q(
    "q119_curation_funnel",
    (s, dir) => {
      // The three classifier exprs are the funnel's CPU hot spot, and the
      // per-doc stats feed two consumers (survivor filter, label join) —
      // as an inline subtree each consumer would rescan text and re-run
      // all three. Checkpoint the SLIM stats (4 scalar cols, never the
      // text — block storage must not hold the corpus at 100 TB): one
      // classifier pass total. The LSH branch re-reads raw text (which it
      // needs regardless) restricted to survivors by a doc_id equi-join;
      // AQE broadcasts the id side while it fits and degrades to a
      // shuffle, never a recompute, beyond that. 4.4 s → 2.9 s warm at
      // sf0.1.
      val slim = graft.operators.Ckpt.local(
        tbl(s, dir, "documents").select(col("doc_id"),
          TextFns.langId(col("text")).as("pl"),
          TextFns.qualityScore(col("text")).as("q"),
          TextFns.tokenCount(col("text")).cast("long").as("nt")))
      val survIds = slim.filter(col("pl") =!= "unknown" && col("q") >= 0.8)
        .select("doc_id")
      val surv = tbl(s, dir, "documents").select("doc_id", "text")
        .join(survIds, Seq("doc_id"))
      val lsh = Dedup.minhashLshPairs(surv, "doc_id",
        "text", numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5)
      val dropped = lsh.pairs
        .select(col("id_b").as("doc_id")).distinct()
        .withColumn("is_dup", lit(1))
      val funnel = slim.join(dropped, Seq("doc_id"), "left")
        .select(
          when(col("pl") === "unknown", lit("lang"))
            .when(col("q") < 0.8, lit("quality"))
            .when(col("is_dup").isNotNull, lit("near_dup"))
            .otherwise(lit("kept")).as("reason"),
          col("nt"))
        .groupBy("reason")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
      // Shed audit: docs excluded from candidate generation by the LSH
      // bucket cap — an EXPOSURE count (they still carry their funnel
      // reason above), reported so a production run can't read "0 pairs"
      // and "pairs shed by the cap" as the same outcome. Always one row
      // (0 when the cap never fired — every tested sf); shares the
      // banded checkpoint, so the audit adds one group-by, not a pass.
      val shed = slim
        .join(lsh.shed.select(col("id").as("doc_id")), Seq("doc_id"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("nt"), lit(0L)).as("n_tokens"))
        .select(lit("lsh_capped").as("reason"), col("n_docs"), col("n_tokens"))
      funnel.unionByName(shed).orderBy("reason")
    },
    Some(s"""WITH base AS (SELECT doc_id, text,
          CAST(len($toks) AS BIGINT) AS nt, $qualityScoreSql AS q,
          $predLangSelect
        FROM documents),
        surv AS (SELECT doc_id, text FROM base
          WHERE pred_lang <> 'unknown' AND q >= 0.8),
        ${minhashCtesFrom("surv")},
        pairs AS (SELECT id_a, id_b FROM cand
          WHERE ${jaccardSql("sh_a", "sh_b")} >= 0.5),
        dropped AS (SELECT DISTINCT id_b FROM pairs),
        labeled AS (SELECT
            CASE WHEN pred_lang = 'unknown' THEN 'lang'
                 WHEN q < 0.8 THEN 'quality'
                 WHEN doc_id IN (SELECT id_b FROM dropped) THEN 'near_dup'
                 ELSE 'kept' END AS reason, nt
          FROM base),
        capped AS (SELECT band, key FROM banded
          GROUP BY band, key HAVING COUNT(*) > ${Dedup.DefaultMaxBucket}),
        shed_ids AS (SELECT DISTINCT b.doc_id
          FROM banded b JOIN capped c ON b.band = c.band AND b.key = c.key)
      SELECT reason, n_docs, n_tokens FROM (
        SELECT reason, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
        FROM labeled GROUP BY reason
        UNION ALL
        SELECT 'lsh_capped' AS reason, COUNT(*) AS n_docs,
          COALESCE(CAST(SUM(base.nt) AS BIGINT), 0) AS n_tokens
        FROM base JOIN shed_ids USING (doc_id)
      ) ORDER BY reason"""),
    headline = true)

  // q121 — vocabulary coverage / OOV rate per source (the tokenizer-fit
  // metric a training-data build reports before committing to a vocab):
  // the top-20 corpus tokens form the vocabulary (count desc, token asc
  // tie-break = deterministic), then each source reports its
  // out-of-vocabulary token fraction. The vocab relation is top-k tiny
  // at any corpus scale and BROADCAST to the occurrence stream — the
  // only corpus-wide shuffle is the token count feeding the top-k.
  private val q121 = Q(
    "q121_oov_rate",
    (s, dir) => {
      val t = tbl(s, dir, "documents")
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("tok"))
      val vocab = t.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("tok")).limit(20)
        .select(col("tok"), lit(1).as("in_v"))
      t.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate",
          Det.roundAt(col("n_oov").cast("double") / col("n_tokens"), 6))
        .select("source", "n_tokens", "n_oov", "oov_rate")
        .orderBy("source")
    },
    Some(s"""WITH t AS (SELECT source, u.tok AS tok
          FROM (SELECT source, $toks AS tk FROM documents), unnest(tk) AS u(tok)),
        vocab AS (SELECT tok FROM (
          SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok
          ORDER BY cnt DESC, tok ASC LIMIT 20)),
        flagged AS (SELECT source,
            CASE WHEN tok IN (SELECT tok FROM vocab) THEN 0 ELSE 1 END AS oov
          FROM t)
      SELECT source, COUNT(*) AS n_tokens,
        CAST(SUM(oov) AS BIGINT) AS n_oov,
        ${Det.roundAtSql("SUM(oov) * 1.0 / COUNT(*)", 6)} AS oov_rate
      FROM flagged GROUP BY source ORDER BY source"""))

  // q122 — image-header parsing round trip: build REAL PNG payloads
  // (signature + IHDR) with per-doc dimensions, then PARSE width/height
  // back from the raw bytes with codegen'd binary ops (substring + hex +
  // conv — the codec-free slice of image decode). The oracle recomputes
  // the dimension formulas directly, so equality proves the byte-level
  // parse inverts the byte-level build bit-for-bit on every row. All
  // per-row narrow work + one tiny format-grain aggregate.
  private val q122 = Q(
    "q122_media_dims",
    (s, dir) => {
      import graft.operators.Multimodal
      val media = tbl(s, dir, "documents").select(col("doc_id"),
        Multimodal.pngPayload(
          (lit(100) + col("doc_id") % 900).cast("int"),
          (lit(50) + col("doc_id") % 500).cast("int")).as("bytes"))
      media.select(
          Multimodal.sniffFormat(col("bytes")).as("fmt"),
          Multimodal.pngDims(col("bytes")).as("dims"),
          length(col("bytes")).cast("long").as("nb"))
        .groupBy("fmt")
        .agg(count(lit(1)).as("cnt"),
          sum(col("dims.width")).as("w_sum"),
          sum(col("dims.height")).as("h_sum"),
          max(col("dims.width")).as("w_max"),
          sum(col("nb")).as("total_bytes"))
        .orderBy("fmt")
    },
    Some("""SELECT 'png' AS fmt, COUNT(*) AS cnt,
        CAST(SUM(100 + doc_id % 900) AS BIGINT) AS w_sum,
        CAST(SUM(50 + doc_id % 500) AS BIGINT) AS h_sum,
        CAST(MAX(100 + doc_id % 900) AS BIGINT) AS w_max,
        CAST(COUNT(*) * 33 AS BIGINT) AS total_bytes
      FROM documents GROUP BY 1 ORDER BY fmt"""))

  // q130 — COUNT-MIN SKETCH over the token stream: the fixed-memory
  // frequency summary for high-cardinality keys (a 32 KB sketch vs one
  // shuffled row per distinct token — the 100 TB trade). The sketch is a
  // mergeable typed Aggregator ([[graft.functions.CountMinAgg]]); top-20
  // exact counts come from the usual shuffle, and each token's estimate
  // is read from the aggregated array IN-PLAN (broadcast one-row sketch
  // × 20-row topk). CM guarantees est ≥ exact unconditionally (counters
  // only over-count) — a hard invariant, asserted per token — and the
  // band check pins est ≤ exact + 8·N/width (8× the expected collision
  // mass per row; the min over 4 independent rows sits far inside it;
  // deterministic hashes + fixed data → no flakiness). Oracle recomputes
  // the exact top-20 and expects every flag TRUE.
  private val q130 = Q(
    "q130_countmin",
    (s, dir) => {
      import graft.functions.CountMinAgg
      val hashed = tbl(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("token"))
        .select(col("token"), TextFns.portableHash(col("token")).as("h"))
      val sketch = hashed.agg(
        CountMinAgg.column(col("h"), 4, 1024).as("cm"),
        count(lit(1)).as("n_total"))
      val topk = hashed.groupBy("token")
        .agg(count(lit(1)).as("cnt"), first(col("h")).as("h"))
        .orderBy(desc("cnt"), asc("token")).limit(20)
      val est = CountMinAgg.estimate(col("cm"), col("h"), 4, 1024)
      topk.crossJoin(broadcast(sketch))
        .select(col("token"), col("cnt"),
          (est >= col("cnt")).as("ge_ok"),
          (est.cast("double") <= col("cnt") +
            lit(8.0) * col("n_total") / lit(1024.0)).as("band_ok"))
        .orderBy(desc("cnt"), asc("token"))
    },
    Some(s"""SELECT u.token AS token, COUNT(*) AS cnt,
        TRUE AS ge_ok, TRUE AS band_ok
      FROM documents, unnest($toks) AS u(token)
      GROUP BY u.token ORDER BY cnt DESC, token ASC LIMIT 20"""))

  // q131 — BIGRAM NOVELTY (LM-flavored quality signal, all-integer): how
  // much of each source's text is built from corpus-rare word
  // transitions. Bigrams form per row (zip_with against the shifted
  // token array — narrow), corpus bigram counts are one shuffle, and the
  // rare tag joins back on the bigram key. Rare = corpus count ≤ 2: the
  // CCNet/fineweb-style "surprise" numerator that separates templated
  // word-soup from novel text without a trained LM (and stays exact —
  // no log-prob floats to drift cross-engine).
  private val q131 = Q(
    "q131_bigram_novelty",
    (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val t = TextFns.tokens(col("text"))
      val bigrams = docs.select(col("source"), explode(
          filter(zip_with(t, slice(t, lit(2), greatest(size(t) - 1, lit(0))),
            (a, b) => concat_ws(" ", a, b)), p => p.contains(" ")))
          .as("bigram"))
      val counts = bigrams.groupBy("bigram").agg(count(lit(1)).as("bg_cnt"))
      bigrams.join(counts, "bigram")
        .groupBy("source")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("bg_cnt") <= 2, 1L).otherwise(0L)).as("n_rare"),
          count_distinct(when(col("bg_cnt") <= 2, col("bigram"))).as("n_rare_distinct"))
        .orderBy("source")
    },
    Some(s"""WITH bg AS (SELECT source, u.b AS bigram
        FROM (SELECT source, $toks AS t FROM documents),
          unnest(list_transform(range(1, len(t)),
            i -> t[i] || ' ' || t[i + 1])) AS u(b)),
      c AS (SELECT bigram, COUNT(*) AS bg_cnt FROM bg GROUP BY bigram)
      SELECT source, COUNT(*) AS n_bigrams,
        CAST(SUM(CASE WHEN c.bg_cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        COUNT(DISTINCT CASE WHEN c.bg_cnt <= 2 THEN bg.bigram END) AS n_rare_distinct
      FROM bg JOIN c USING (bigram)
      GROUP BY source ORDER BY source"""))

  // q133 — WordPiece/BPE ENCODE (the tokenizer *apply* step; q113 is the
  // matching *train* step): greedy longest-match subword tokenization
  // against a fixed vocabulary, as a native codegen'd expression
  // ([[graft.plans.WordPieceExpr]]). The vocabulary literal below is the
  // single source of truth — the oracle's unnest list is built from the
  // same Seq, and DuckDB replays the greedy scan as a recursive CTE over
  // DISTINCT words (arg_max(piece, len) = longest prefix; no match →
  // '[UNK]', advance 1). Per-source rollup is all-integer: words,
  // pieces, UNK chars, single-piece words.
  private val wpVocab: Seq[String] =
    ('a' to 'z').map(_.toString) ++ Seq(
      "spark", "window", "merge", "table", "column", "vector", "stream",
      "value", "data", "small", "join", "filter", "group", "hash",
      "customer", "sort", "order", "slow", "line", "big",
      "win", "dow", "mer", "ta", "ble", "col", "umn", "vec", "tor",
      "str", "eam", "val", "ue", "da", "sma", "ll", "fil", "ter",
      "gro", "up", "cus", "tom", "er", "so", "rt", "or", "der",
      "li", "ne", "jo", "in", "ha", "sh", "sl", "ow", "ark", "sp",
      "ing", "ed", "es", "th", "re", "on", "an", "en", "at", "ion")
  private val q133 = Q(
    "q133_wordpiece",
    (s, dir) => {
      val words = tbl(s, dir, "documents")
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
      words
        .select(col("source"),
          graft.plans.WordPieceExpr(col("w"), wpVocab).as("pieces"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("pieces")).cast("long")).as("n_pieces"),
          sum(size(filter(col("pieces"), p => p === lit("[UNK]"))).cast("long")).as("n_unk"),
          sum(when(size(col("pieces")) === 1, 1L).otherwise(0L)).as("n_whole"))
        .orderBy("source")
    },
    Some {
      val vlist = wpVocab.map(p => s"'$p'").mkString("[", ", ", "]")
      s"""WITH RECURSIVE
        vocab(p) AS (SELECT unnest($vlist)),
        wds AS (SELECT source, u.w AS w
          FROM (SELECT source, $toks AS t FROM documents), unnest(t) AS u(w)),
        dw AS (SELECT DISTINCT w FROM wds),
        enc AS (
          SELECT w, CAST(1 AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS pieces FROM dw
          UNION ALL
          SELECT s.w, s.pos + coalesce(max(len(v.p)), 1),
                 list_append(s.pieces, coalesce(arg_max(v.p, len(v.p)), '[UNK]'))
          FROM (SELECT * FROM enc WHERE pos <= len(w)) s
          LEFT JOIN vocab v ON v.p = substr(s.w, CAST(s.pos AS INT), len(v.p))
          GROUP BY s.w, s.pos, s.pieces),
        done AS (SELECT w, pieces FROM enc WHERE pos > len(w))
        SELECT source, COUNT(*) AS n_words,
          CAST(SUM(len(pieces)) AS BIGINT) AS n_pieces,
          CAST(SUM(len(list_filter(pieces, x -> x = '[UNK]'))) AS BIGINT) AS n_unk,
          CAST(SUM(CASE WHEN len(pieces) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_whole
        FROM wds JOIN done USING (w)
        GROUP BY source ORDER BY source"""
    })

  // q136 — EXACT CONTAINMENT join (quote / near-superset detection):
  // directed pairs with |A∩B|/|A| ≥ 0.8. Symmetric Jaccard misses a
  // snippet inside a much larger doc; containment is the curation
  // measure for it. Candidates via the containment form of prefix
  // filtering — A's rarest-prefix × the FULL inverted index (lossless;
  // see Dedup.containmentPairs) — so the pair set is exact, like q118,
  // not LSH-approximate like q22.
  private val q136 = Q(
    "q136_containment",
    (s, dir) => graft.operators.Dedup.containmentPairs(
      tbl(s, dir, "documents"), "doc_id", "text", shingleN = 3, threshold = 0.8),
    Some(s"""WITH tk AS (SELECT doc_id, ${wordShinglesSql(3)} AS sh FROM documents),
        posting AS (SELECT doc_id, u.el AS el FROM tk, unnest(sh) AS u(el)),
        dfreq AS (SELECT el, COUNT(*) AS cnt FROM posting GROUP BY el),
        ordered AS (SELECT doc_id, array_agg(el ORDER BY cnt, el) AS sorted
          FROM posting JOIN dfreq USING (el) GROUP BY doc_id),
        pre AS (SELECT doc_id, u.el AS el FROM (
            SELECT doc_id, sorted[1:CAST(len(sorted) - ceil(0.8 * len(sorted)) + 1 AS BIGINT)] AS p
            FROM ordered), unnest(p) AS u(el)),
        ok_el AS (SELECT el FROM posting
          GROUP BY el HAVING COUNT(*) <= ${Dedup.DefaultMaxBucket}),
        posting_ok AS (SELECT p.* FROM posting p JOIN ok_el USING (el)),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, p.doc_id AS id_b
          FROM pre a JOIN posting_ok p ON a.el = p.el AND a.doc_id <> p.doc_id)
      SELECT id_a, id_b,
        ${Det.roundAtSql("len(list_intersect(ta.sh, tb.sh)) * 1.0 / len(ta.sh)", 6)} AS containment
      FROM cand JOIN tk ta ON ta.doc_id = id_a JOIN tk tb ON tb.doc_id = id_b
      WHERE ${Det.roundAtSql("len(list_intersect(ta.sh, tb.sh)) * 1.0 / len(ta.sh)", 6)} >= 0.8
      ORDER BY id_a, id_b"""))

  // q137 — CURATION CALIBRATION: does the quality score actually
  // separate duplicates? Cross the q26 quality score (fixed-width 0.1
  // bins — floor(q·10), a row-local projection, deliberately NOT a
  // global ntile: a corpus-wide decile window is a single-partition
  // sort at 100 TB, while fixed bins are free) with the q21 exact-dup
  // flag (fingerprint groups with count > 1). Per bin: docs, dups, dup
  // rate, mean quality — the evidence view behind every "filter below
  // quality X" threshold decision.
  private val q137 = Q(
    "q137_quality_dup_calib",
    (s, dir) => {
      val scored = tbl(s, dir, "documents").select(col("doc_id"),
        TextFns.qualityScore(col("text")).as("q"),
        TextFns.portableHash(TextFns.normText(col("text"))).as("fp"))
      val dupFp = scored.groupBy("fp").agg(count(lit(1)).as("fn"))
        .filter(col("fn") > 1).select("fp")
      scored
        .join(dupFp.withColumn("__d", lit(1L)), Seq("fp"), "left")
        .withColumn("is_dup", coalesce(col("__d"), lit(0L)))
        .withColumn("bin", least(floor(col("q") * 10), lit(9.0)).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("is_dup")).as("n_dups"),
          Det.roundAt(sum(col("is_dup")).cast("double") / count(lit(1)), 6).as("dup_rate"),
          Det.roundAt(Det.dsum(col("q"), 6) / count(lit(1)), 4).as("avg_q"))
        .orderBy("bin")
    },
    Some(s"""WITH scored AS (SELECT doc_id, $qualityScoreSql AS q,
          ${hSql(norm)} AS fp FROM documents),
      dupfp AS (SELECT fp FROM scored GROUP BY fp HAVING COUNT(*) > 1),
      flagged AS (SELECT q,
          CASE WHEN fp IN (SELECT fp FROM dupfp) THEN 1 ELSE 0 END AS is_dup,
          CAST(least(floor(q * 10), 9.0) AS BIGINT) AS bin
        FROM scored)
      SELECT bin, COUNT(*) AS n_docs,
        CAST(SUM(is_dup) AS BIGINT) AS n_dups,
        ${Det.roundAtSql("CAST(SUM(is_dup) AS DOUBLE) / COUNT(*)", 6)} AS dup_rate,
        ${Det.roundAtSql("CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)", 4)} AS avg_q
      FROM flagged GROUP BY bin ORDER BY bin"""))

  // q138 — UNIGRAM-LM CROSS-ENTROPY (the CCNet-style perplexity quality
  // filter, self-trained): add-one-smoothed unigram probs over the corpus
  // token stream, per-doc mean -ln p (nats/token), summarized per source.
  // Per-token xent is rounded at 1e-6 before the decimal-exact per-doc
  // sum, so double addition order never shows; min/max sit on the
  // 1e-4-rounded doc values. Zero-token docs have no cross-entropy and
  // are absent on both sides (explode/unnest both drop them).
  private val q138 = Q(
    "q138_lm_xent",
    (s, dir) => graft.operators.Lm
      .unigramXent(tbl(s, dir, "documents"), "doc_id", "text", Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        Det.roundAt(Det.dsum(col("doc_xent"), 4) / count(lit(1)), 4).as("avg_xent"),
        min(col("doc_xent")).as("min_xent"),
        max(col("doc_xent")).as("max_xent"))
      .orderBy("source"),
    Some(s"""WITH tk AS (SELECT doc_id, source, u.tok AS tok
          FROM documents, unnest($toks) AS u(tok)),
        cnts AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total, COUNT(*) AS vocab
          FROM cnts),
        probs AS (SELECT tok,
            ${Det.roundAtSql("-ln((cnt + 1.0) / (n_total + vocab))", 6)} AS xent
          FROM cnts, tot),
        docx AS (SELECT doc_id, source,
            ${Det.roundAtSql("CAST(SUM(CAST(xent AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)", 4)} AS dx
          FROM tk JOIN probs USING (tok) GROUP BY doc_id, source)
      SELECT source, COUNT(*) AS n_docs,
        ${Det.roundAtSql("CAST(SUM(CAST(dx AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*)", 4)} AS avg_xent,
        MIN(dx) AS min_xent, MAX(dx) AS max_xent
      FROM docx GROUP BY source ORDER BY source"""),
    headline = true)

  // q139 — WEIGHTED SAMPLE without replacement (Efraimidis–Spirakis with
  // deterministic hash uniforms; Sampling.weightedSample): 20 docs drawn
  // with probability ∝ quality + 0.01, the quality-weighted corpus draw
  // of a mixture build. The id list itself is the asserted output — the
  // oracle re-derives u, key, and the same top-k cut.
  private val q139 = Q(
    "q139_weighted_sample",
    (s, dir) => {
      val weighted = tbl(s, dir, "documents").select(col("doc_id"), col("source"),
        (TextFns.qualityScore(col("text")) + lit(0.01)).as("w"))
      graft.operators.Sampling.weightedSample(weighted, "doc_id", "w", 20)
        .select(col("doc_id"), col("source"), Det.roundAt(col("w"), 6).as("w"),
          col("key"))
        .orderBy(desc("key"), col("doc_id"))
    },
    Some(s"""WITH w AS (SELECT doc_id, source, ($qualityScoreSql + 0.01) AS w
          FROM documents),
        keyed AS (SELECT doc_id, source, w,
            ${Det.roundAtSql(
              s"ln((${hSql("CAST(doc_id AS VARCHAR) || ':ws'")} % 1000000 + 0.5) / 1000000.0) / w",
              6)} AS key
          FROM w)
      SELECT doc_id, source, ${Det.roundAtSql("w", 6)} AS w, key
      FROM keyed ORDER BY key DESC, doc_id LIMIT 20"""))

  // q140 — MODULARITY of the near-dup graph under the SOURCE partition:
  // does duplication concentrate within sources? Q near 1 → per-source
  // sharded dedup is safe at 100 TB; Q near 0 → cross-source dups would
  // escape a source-sharded pass. Exact integer numerator (4m·intra −
  // Σd_c²) over 4m², one final double division — no float aggregation.
  private val q140 = Q(
    "q140_dup_modularity",
    (s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.operators.Dedup.partitionModularity(
        Dedup.minhashLshPairs(docs, "doc_id", "text",
          numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs
          .select("id_a", "id_b"),
        docs.select(col("doc_id").as("id"), col("source").as("label")))
    },
    Some(s"""WITH $minhashCtes,
        pairs AS (SELECT id_a, id_b FROM cand
          WHERE ${jaccardSql("sh_a", "sh_b")} >= 0.5),
        lab AS (SELECT doc_id AS id, source AS lab FROM documents),
        e AS (SELECT a.lab AS la, b.lab AS lb FROM pairs p
          JOIN lab a ON a.id = p.id_a JOIN lab b ON b.id = p.id_b),
        deg AS (SELECT v, COUNT(*) AS d FROM (
            SELECT id_a AS v FROM pairs UNION ALL SELECT id_b FROM pairs)
          GROUP BY v),
        dc AS (SELECT l.lab, CAST(SUM(d) AS BIGINT) AS dsum
          FROM deg JOIN lab l ON l.id = deg.v GROUP BY l.lab),
        s1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
          CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS intra
          FROM e),
        s2 AS (SELECT CAST(SUM(dsum * dsum) AS BIGINT) AS sumd2 FROM dc)
      SELECT m AS n_edges, intra AS intra_edges, m - intra AS cross_edges,
        CASE WHEN m = 0 THEN 0.0 ELSE ${Det.roundAtSql(
          "CAST(4 * m * intra - sumd2 AS DOUBLE) / CAST(4 * m * m AS DOUBLE)", 6)}
        END AS modularity
      FROM s1, s2"""))

  // q143 — PER-GROUP weighted sample: 5 docs per source, probability ∝
  // quality + 0.01, same A-Res keys as q139 ranked inside the group —
  // the per-domain quality-weighted draw. Rank limit → WindowGroupLimit,
  // so per-source state is 5 rows at any corpus scale.
  private val q143 = Q(
    "q143_group_weighted_sample",
    (s, dir) => {
      val weighted = tbl(s, dir, "documents").select(col("doc_id"), col("source"),
        (TextFns.qualityScore(col("text")) + lit(0.01)).as("w"))
      graft.operators.Sampling
        .weightedSamplePerGroup(weighted, "source", "doc_id", "w", 5)
        .select(col("source"), col("doc_id"), Det.roundAt(col("w"), 6).as("w"),
          col("key"), col("rank"))
        .orderBy(col("source"), col("rank"))
    },
    Some(s"""WITH w AS (SELECT doc_id, source, ($qualityScoreSql + 0.01) AS w
          FROM documents),
        keyed AS (SELECT doc_id, source, w,
            ${Det.roundAtSql(
              s"ln((${hSql("CAST(doc_id AS VARCHAR) || ':ws'")} % 1000000 + 0.5) / 1000000.0) / w",
              6)} AS key
          FROM w),
        r AS (SELECT source, doc_id, w, key,
            ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY key DESC, doc_id ASC) AS rank
          FROM keyed)
      SELECT source, doc_id, ${Det.roundAtSql("w", 6)} AS w, key,
        CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 5 ORDER BY source, rank"""))

  // q144 — PSI DRIFT monitor: population stability index of the quality
  // distribution between two deterministic hash-halves of each source
  // (stand-ins for "last week" vs "this week" snapshots). Add-one
  // smoothed shares over the generated 10-bin spine; per-bin terms
  // rounded at 1e-6 before the exact-decimal sum. On a homogeneous
  // corpus PSI ≈ 0 — the all-clear reading a drift monitor must emit.
  private val q144 = Q(
    "q144_psi_drift",
    (s, dir) => {
      // both keys coalesce-declared non-nullable (unreachable fallbacks):
      // floor/pmod are syntactically always-nullable, and a nullable
      // group/filter key makes the optimizer infer isnotnull(<key>) and
      // inline the full quality pipeline into the inferred filter — 4
      // extra per-row derivations (round-9 plan census)
      val scored = tbl(s, dir, "documents").select(col("doc_id"), col("source"),
        coalesce(least(floor(TextFns.qualityScore(col("text")) * 10), lit(9.0))
          .cast("long"), lit(-1L)).as("bin"),
        coalesce(pmod(TextFns.portableHash(
          concat(col("doc_id").cast("string"), lit(":psi"))), lit(2L)), lit(-1L))
          .as("half"))
      graft.operators.Profile.psiDrift(
        scored.filter(col("half") === 0L), scored.filter(col("half") === 1L),
        "source", "bin", 10)
    },
    Some(s"""WITH scored AS (SELECT doc_id, source,
          CAST(least(floor(($qualityScoreSql) * 10), 9.0) AS BIGINT) AS bin,
          ${hSql("CAST(doc_id AS VARCHAR) || ':psi'")} % 2 AS half
        FROM documents),
      rc AS (SELECT source AS g, bin, COUNT(*) AS rc FROM scored
        WHERE half = 0 GROUP BY g, bin),
      cc AS (SELECT source AS g, bin, COUNT(*) AS cc FROM scored
        WHERE half = 1 GROUP BY g, bin),
      groups AS (SELECT DISTINCT g FROM (SELECT g FROM rc UNION ALL SELECT g FROM cc)),
      spine AS (SELECT g, b.range AS bin FROM groups CROSS JOIN range(0, 10) AS b),
      j AS (SELECT s.g, s.bin, COALESCE(rc.rc, 0) AS rc, COALESCE(cc.cc, 0) AS cc
        FROM spine s LEFT JOIN rc ON rc.g = s.g AND rc.bin = s.bin
        LEFT JOIN cc ON cc.g = s.g AND cc.bin = s.bin),
      tot AS (SELECT g, CAST(SUM(rc) AS BIGINT) AS n_ref,
          CAST(SUM(cc) AS BIGINT) AS n_cur FROM j GROUP BY g),
      terms AS (SELECT j.g, t.n_ref, t.n_cur,
          ${Det.roundAtSql(
            "((j.rc + 1.0) / (t.n_ref + 10) - (j.cc + 1.0) / (t.n_cur + 10)) * " +
            "ln(((j.rc + 1.0) / (t.n_ref + 10)) / ((j.cc + 1.0) / (t.n_cur + 10)))", 6)} AS term
        FROM j JOIN tot t ON t.g = j.g)
      SELECT g AS source, n_ref, n_cur,
        ${Det.roundAtSql("CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE)", 6)} AS psi
      FROM terms GROUP BY g, n_ref, n_cur ORDER BY source"""))

  // q150 — TRAIN/EVAL SPLIT LEAKAGE audit at NEAR-DUP grain: compose
  // the q38 hash split (portable hash of doc_id, 90/5/5) with the q39
  // LSH dup clusters and count clusters that straddle split boundaries
  // — the "is my test set contaminated by training near-dups?" check
  // run before any model training. (Exact-fingerprint grain would be
  // vacuous here: the corpus has no exact dups — the near-dup graph is
  // the label that stays nontrivial at every scale.)
  // `n_eval_contaminated` is the headline number: val/test docs whose
  // cluster also has a member in train. At 100 TB the cost is the q39
  // cluster build itself; the audit on top is one cluster-grain shuffle
  // + a single-row reduce.
  private val q150 = Q(
    "q150_split_leakage",
    (s, dir) => {
      val cl = Dedup.clusters(Dedup.minhashLshPairs(tbl(s, dir, "documents"),
        "doc_id", "text", numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs)
      val bucket = pmod(TextFns.portableHash(col("id").cast("string")), lit(100L))
      val split = when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
      val groups = cl.withColumn("split", split)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("split")).as("n_splits"),
          count(when(col("split") === "train", lit(1))).as("n_train"))
      groups.agg(
        count(lit(1)).as("n_dup_groups"),
        count(when(col("n_splits") > 1, lit(1))).as("n_leaked_groups"),
        sum(when(col("n_splits") > 1, col("n")).otherwise(0L)).as("n_docs_in_leaked"),
        sum(when(col("n_train") > 0, col("n") - col("n_train")).otherwise(0L))
          .as("n_eval_contaminated"))
    },
    Some(s"""WITH $minhashCtes, $ccCtes,
      lab AS (SELECT cluster,
          CASE WHEN ${TextFns.portableHashSql("CAST(id AS VARCHAR)")} % 100 < 90 THEN 'train'
               WHEN ${TextFns.portableHashSql("CAST(id AS VARCHAR)")} % 100 < 95 THEN 'val'
               ELSE 'test' END AS split
        FROM cc),
      g AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
          CAST(COUNT(CASE WHEN split = 'train' THEN 1 END) AS BIGINT) AS n_train
        FROM lab GROUP BY cluster)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_groups,
        CAST(COUNT(CASE WHEN n_splits > 1 THEN 1 END) AS BIGINT) AS n_leaked_groups,
        CAST(SUM(CASE WHEN n_splits > 1 THEN n ELSE 0 END) AS BIGINT) AS n_docs_in_leaked,
        CAST(SUM(CASE WHEN n_train > 0 THEN n - n_train ELSE 0 END) AS BIGINT) AS n_eval_contaminated
      FROM g"""))

  // q158 — AUC (Mann–Whitney) of the quality score as a NEAR-DUP
  // predictor: the eval-harness metric for any scorer in the curation
  // funnel, with the positive class taken from the q22 LSH pipeline's
  // verified pairs (the corpus has no exact dups — a label that is
  // nontrivial at every scale). Computed WITHOUT a global row-grain
  // rank: scores quantize to their exact 1e-6 grain (qualityScore is
  // already 6-dp), reduce to a score-grain histogram of (n_pos, n_neg)
  // — bounded by the 10⁶ score domain, not the corpus — and the
  // rank-sum numerator folds over that histogram with a TWO-LEVEL
  // prefix sum ([[graft.operators.PrefixSum]] — per-4096-score-block
  // running sums in parallel, one tiny block-offset window; ties get
  // the exact midrank via the ×2-integer form), so even a saturated
  // 10⁶-value score grain never funnels through one task. All integer
  // arithmetic until the final guarded division. At 100 TB the only
  // corpus-grain work is the LSH label build (q22's plan) and the
  // histogram's partial agg; the positive-id set rides a broadcast.
  private val q158 = Q(
    "q158_auc",
    (s, dir) => {
      val pairs = Dedup.minhashLshPairs(tbl(s, dir, "documents"), "doc_id", "text",
        numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs
      // ONE pass over the lazy pair pipeline (explode both endpoints) —
      // the union-of-selects spelling re-executed the whole LSH verify
      // join once per branch (round-14, guide §2.4: duplicated subtrees)
      val dupIds = Dedup.pairEndpointIds(pairs)
      val scored = tbl(s, dir, "documents")
        .select(col("doc_id"),
          floor(TextFns.qualityScore(col("text")) * lit(1000000.0) + lit(0.5))
            .cast("long").as("q"))
      val labeled = scored
        .join(broadcast(dupIds), scored("doc_id") === dupIds("id"), "left")
        .withColumn("is_dup", col("id").isNotNull)
      val hist = labeled.groupBy("q")
        .agg(count(when(col("is_dup"), lit(1))).as("n_pos"),
          count(when(!col("is_dup"), lit(1))).as("n_neg"))
      // the block key carries an unreachable coalesce fallback: floor() is
      // always nullable, and the isnotnull(<block>) inferred for the
      // offsets join would push down through the histogram and re-derive
      // qualityScore (4 graft_quality_signals calls) in a Filter per row
      graft.operators.PrefixSum.overKeys(hist, "q",
          coalesce(floor(col("q") / 4096L).cast("long"), lit(Long.MinValue)),
          inclusive = false, Seq("n_neg" -> "cumneg_lt"))
        .agg(sum(col("n_pos")).as("np"), sum(col("n_neg")).as("nn"),
          sum(col("n_pos") * (lit(2) * col("cumneg_lt") + col("n_neg"))).as("num2"))
        .select(col("np").as("n_pos"), col("nn").as("n_neg"),
          when(col("np") > 0 && col("nn") > 0,
            Det.roundAt(col("num2").cast("double") /
              (lit(2.0) * col("np").cast("double") * col("nn").cast("double")), 6))
            .as("auc"))
    },
    Some(s"""WITH $minhashCtes,
      vp AS (SELECT id_a, id_b FROM cand
        WHERE ${jaccardSql("sh_a", "sh_b")} >= 0.5),
      ids AS (SELECT DISTINCT id FROM
        (SELECT id_a AS id FROM vp UNION ALL SELECT id_b FROM vp)),
      scored AS (SELECT doc_id,
          CAST(floor($qualityScoreSql * 1000000.0 + 0.5) AS BIGINT) AS q
        FROM documents),
      lab AS (SELECT q, doc_id IN (SELECT id FROM ids) AS is_dup FROM scored),
      hist AS (SELECT q,
          CAST(COUNT(CASE WHEN is_dup THEN 1 END) AS BIGINT) AS n_pos,
          CAST(COUNT(CASE WHEN NOT is_dup THEN 1 END) AS BIGINT) AS n_neg
        FROM lab GROUP BY q),
      c AS (SELECT n_pos, n_neg,
          COALESCE(SUM(n_neg) OVER (ORDER BY q
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg_lt
        FROM hist),
      a AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS np,
          CAST(SUM(n_neg) AS BIGINT) AS nn,
          CAST(SUM(n_pos * (2 * cumneg_lt + n_neg)) AS BIGINT) AS num2 FROM c)
      SELECT np AS n_pos, nn AS n_neg,
        CASE WHEN np > 0 AND nn > 0 THEN ${Det.roundAtSql(
          "CAST(num2 AS DOUBLE) / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE))", 6)}
        ELSE NULL END AS auc
      FROM a"""))

  // q159 — NDCG@10 evaluation of the q83 BM25 ranker: the offline
  // ranking-quality metric of any retrieval stack. Graded relevance is
  // rel = min(tf, 3) (a label a click-free offline eval can always
  // derive); DCG folds the rank-discounted gains over the BM25 order,
  // IDCG over the ideal (rel-sorted, doc_id tie-broken) order, both at
  // k=10. Two portability moves: the log2 discount weights are computed
  // ONCE here in Scala and embedded as identical double literals in
  // both engines (log2 itself is not bit-portable across libms), and
  // each addend quantizes to exact micro-units (floor((g·w)·1e6 + 0.5)
  // as BIGINT) so per-term sums are integer-exact regardless of
  // aggregation order. Scale shape: rides q83's plan — term-filtered
  // posting lists only, never the corpus; the additions are one
  // rel-order window per term (posting-list-sized partitions) and a
  // term-grain aggregate.
  private val ndcgK = 10
  private val ndcgW: Seq[Double] =
    (1 to ndcgK).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))
  private val q159 = Q(
    "q159_ndcg",
    (s, dir) => {
      val full = graft.operators.Rank.bm25TopK(
        tbl(s, dir, "documents"), "doc_id", "text",
        Seq("join", "window", "merge"), topK = Int.MaxValue)
      val gains = array(Seq(0L, 1L, 3L, 7L).map(lit): _*) // (2^rel − 1)
      val wArr = array(ndcgW.map(lit): _*)
      val wIdeal = Window.partitionBy("term").orderBy(desc("rel"), asc("doc_id"))
      def microGain(rankCol: Column): Column =
        floor((element_at(gains, col("rel") + 1).cast("double") *
          element_at(wArr, rankCol.cast("int"))) * lit(1000000.0) + lit(0.5))
          .cast("long")
      full
        .withColumn("rel", least(col("tf"), lit(3L)).cast("int"))
        .withColumn("irank", row_number().over(wIdeal).cast("long"))
        .groupBy("term")
        .agg(count(lit(1)).as("n_cands"),
          sum(when(col("rank") <= ndcgK, microGain(col("rank")))
            .otherwise(0L)).as("dcg_u"),
          sum(when(col("irank") <= ndcgK, microGain(col("irank")))
            .otherwise(0L)).as("idcg_u"))
        .select(col("term"), col("n_cands"),
          (col("dcg_u").cast("double") / lit(1000000.0)).as("dcg"),
          (col("idcg_u").cast("double") / lit(1000000.0)).as("idcg"),
          when(col("idcg_u") > 0,
            Det.roundAt(col("dcg_u").cast("double") /
              col("idcg_u").cast("double"), 6)).as("ndcg"))
        .orderBy("term")
    },
    Some({
      val wCase = (1 to ndcgK)
        .map(r => s"WHEN $r THEN CAST('${ndcgW(r - 1)}' AS DOUBLE)")
        .mkString(" ")
      val gainCase = "CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END"
      def microGainSql(rankExpr: String) =
        s"""CAST(floor((CAST($gainCase AS DOUBLE) *
            (CASE $rankExpr $wCase END)) * 1000000.0 + 0.5) AS BIGINT)"""
      s"""WITH ${bm25Ctes("'join', 'window', 'merge'")},
        g AS (SELECT term, doc_id, rank, CAST(least(tf, 3) AS INTEGER) AS rel FROM r),
        gi AS (SELECT term, rank, rel,
            ROW_NUMBER() OVER (PARTITION BY term ORDER BY rel DESC, doc_id ASC) AS irank
          FROM g),
        a AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_cands,
            CAST(SUM(CASE WHEN rank <= $ndcgK THEN ${microGainSql("rank")}
              ELSE 0 END) AS BIGINT) AS dcg_u,
            CAST(SUM(CASE WHEN irank <= $ndcgK THEN ${microGainSql("irank")}
              ELSE 0 END) AS BIGINT) AS idcg_u
          FROM gi GROUP BY term)
      SELECT term, n_cands,
        CAST(dcg_u AS DOUBLE) / 1000000.0 AS dcg,
        CAST(idcg_u AS DOUBLE) / 1000000.0 AS idcg,
        CASE WHEN idcg_u > 0 THEN ${Det.roundAtSql(
          "CAST(dcg_u AS DOUBLE) / CAST(idcg_u AS DOUBLE)", 6)}
        ELSE NULL END AS ndcg
      FROM a ORDER BY term"""
    }))

  // q160 — TEMPERATURE-scaled mixture rebalancing (α = 1/2): target
  // domain shares ∝ √n_d, the multilingual-corpus flattening rule that
  // keeps head sources from drowning the tail — the DERIVED-weights
  // sibling of q99's caller-supplied weights. √n is quantized to integer
  // micro-units before the weight sum, so the allocation is exact integer
  // arithmetic in both engines (sqrt is IEEE-correctly-rounded; its SUM
  // as doubles would not be order-stable).
  private val q160 = Q(
    "q160_temperature_mix",
    (s, dir) => graft.operators.Sampling.temperatureRebalance(
      tbl(s, dir, "documents"), "source", "doc_id", budget = 250L),
    Some(s"""WITH c AS (SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source),
        w AS (SELECT source, n_total,
            CAST(floor(sqrt(CAST(n_total AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS wq
          FROM c),
        ws AS (SELECT CAST(SUM(wq) AS BIGINT) AS wsum FROM w),
        t AS (SELECT source, n_total,
            least((250 * wq) // wsum, n_total) AS n_target FROM w, ws),
        kept AS (SELECT d.source, n_total, n_target, d.doc_id
          FROM documents d JOIN t USING (source)
          WHERE (${hSql("CAST(doc_id AS VARCHAR)")} % 1000000) * n_total
            < n_target * 1000000)
      SELECT source, n_total, n_target, COUNT(*) AS n_kept,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM kept GROUP BY source, n_total, n_target ORDER BY source"""))

  // q161 — DSIR importance selection (Xie et al. 2023): score every
  // non-English document by how English-like its hashed-unigram token
  // distribution is (λ_f = ln p_en(f) − ln p_corpus(f) over B=256 hashed
  // buckets, per-term 1e-6 rounding exactly as q138's LM), keep the
  // top-20. The λ table is B rows — broadcast at ANY corpus scale, which
  // is the entire point of hashed features over q138's vocabulary-sized
  // probability table. Selection compiles to TakeOrderedAndProject.
  private val q161 = Q(
    "q161_dsir_select",
    (s, dir) => graft.operators.Dsir.select(
      tbl(s, dir, "documents"), "doc_id", "text",
      isTarget = col("lang") === "en", k = 20, buckets = 256,
      keepCols = Seq("source", "lang")),
    Some(s"""WITH tk AS (SELECT doc_id, source, lang, (lang = 'en') AS t,
            ${hSql("u.tok")} % 256 AS f
          FROM documents, unnest($toks) AS u(tok)),
        cnts AS (SELECT f, COUNT(*) AS c_raw,
            COUNT(CASE WHEN t THEN 1 END) AS c_tgt
          FROM tk GROUP BY f),
        tot AS (SELECT CAST(SUM(c_raw) AS BIGINT) AS n_raw,
            CAST(SUM(c_tgt) AS BIGINT) AS n_tgt FROM cnts),
        lam AS (SELECT f,
            ${Det.roundAtSql("ln((c_tgt + 1.0) / (n_tgt + 256))", 6)} -
            ${Det.roundAtSql("ln((c_raw + 1.0) / (n_raw + 256))", 6)} AS lam
          FROM cnts, tot),
        scored AS (SELECT doc_id, source, lang, COUNT(*) AS n_toks,
            ${Det.roundAtSql("CAST(SUM(CAST(lam AS DECIMAL(28,6))) AS DOUBLE)", 4)} AS logw
          FROM tk JOIN lam USING (f) GROUP BY doc_id, source, lang)
      SELECT doc_id, source, lang, n_toks, logw
      FROM scored WHERE lang <> 'en'
      ORDER BY logw DESC, doc_id LIMIT 20"""))

  // q164 — INCREMENTAL ingest dedup: a new crawl batch (hash-split half
  // of the corpus) is near-dup-checked against the existing INDEX half
  // only — candidates are index×incoming, never index×index, which is
  // what keeps per-batch cost proportional to the batch (not the corpus)
  // in a steady-state pipeline. Same signature space / cap / verify as
  // q22, so flags here are a subset of the full self-join's. Report per
  // incoming language: batch size, dups vs index, surviving chars.
  private val q164 = Q(
    "q164_incremental_dedup",
    (s, dir) => {
      val docs = tbl(s, dir, "documents")
      // non-null split value: pmod is syntactically always-nullable, so
      // the bare predicate grows an inferred isnotnull twin that doubles
      // the per-row hash cost in every filter (round-9 plan census)
      val isIdx =
        coalesce(pmod(TextFns.portableHash(col("doc_id")), lit(100L)), lit(-1L)) < 50
      val dupIds = Dedup.crossLshPairs(
          docs.filter(isIdx), docs.filter(!isIdx), "doc_id", "text",
          numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5)
        .select(col("id_new").as("doc_id")).distinct()
        .withColumn("__dup", lit(1))
      docs.filter(!isIdx)
        .join(dupIds, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_incoming"),
          count(when(col("__dup").isNotNull, lit(1))).as("n_dup"),
          sum(when(col("__dup").isNull, col("n_chars")).otherwise(lit(0L)))
            .as("kept_chars"))
        .orderBy("lang")
    },
    Some {
      val p = Dedup.MinhashP
      val sigList = Dedup.minhashSeeds(32).map { case (a, b) =>
        s"list_min(list_transform(hb, h -> (h * $a + $b) % $p))"
      }.mkString("[", ", ", "]")
      val bandHash = hSql(
        "CAST(b AS VARCHAR) || '-' || array_to_string(list_transform(sig[4*b+1:4*b+4], s -> CAST(s AS VARCHAR)), '-')")
      val isIdxSql = s"${hSql("CAST(doc_id AS VARCHAR)")} % 100 < 50"
      s"""WITH docs AS (SELECT doc_id, $isIdxSql AS is_idx,
            ${wordShinglesSql(3)} AS sh FROM documents),
        hashed AS (SELECT doc_id, is_idx, sh,
          list_transform(sh, x -> ${hSql("x")} % $p) AS hb FROM docs),
        signed AS (SELECT doc_id, is_idx, sh, $sigList AS sig FROM hashed),
        keyed AS (SELECT doc_id, is_idx, sh,
          list_transform(range(0, 8), b -> $bandHash) AS keys FROM signed),
        banded AS (SELECT doc_id, is_idx, sh, bb.range AS band, keys[bb.range + 1] AS key
          FROM keyed CROSS JOIN range(0, 8) AS bb),
        ok_buckets AS (SELECT band, key FROM banded
          GROUP BY band, key HAVING COUNT(*) <= ${Dedup.DefaultMaxBucket}),
        banded_ok AS (SELECT b.* FROM banded b JOIN ok_buckets USING (band, key)),
        cand AS (SELECT DISTINCT n.doc_id AS id_new, n.sh AS sh_n,
            i.doc_id AS id_idx, i.sh AS sh_i
          FROM banded_ok n JOIN banded_ok i
            ON n.band = i.band AND n.key = i.key AND NOT n.is_idx AND i.is_idx),
        dup AS (SELECT DISTINCT id_new FROM cand
          WHERE ${jaccardSql("sh_n", "sh_i")} >= 0.5)
      SELECT lang, COUNT(*) AS n_incoming,
        CAST(COUNT(CASE WHEN p.id_new IS NOT NULL THEN 1 END) AS BIGINT) AS n_dup,
        CAST(SUM(CASE WHEN p.id_new IS NULL THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
      FROM documents d LEFT JOIN dup p ON d.doc_id = p.id_new
      WHERE NOT ($isIdxSql) GROUP BY lang ORDER BY lang"""
    })

  // q165 — HTML → text extraction (the first step of every web-corpus
  // ingest: reference analogue is the notebook's raw-text cleanup, scaled
  // to markup). Each document's text is wrapped in a deterministic page —
  // head/title, a style block, a script block whose body contains
  // markup-looking code, an entity-encoded body, per-doc links, an
  // entity-only footer — and then recovered with a codegen'd regex chain:
  // script/style block removal → tag strip → entity decode (lt/gt before
  // amp, the standard order that never double-decodes) → whitespace
  // collapse. Regexes are restricted to the RE2-compatible subset (no
  // backreferences) so the DuckDB oracle runs the IDENTICAL patterns.
  // Per-source totals assert the whole chain: chars in/out, links seen,
  // titles recovered.
  private val q165 = Q(
    "q165_html_extract",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
      val body = regexp_replace(col("text"), "value", "v&amp;lue")
      val extraLink = when(pmod(col("doc_id"), lit(2L)) === 0L,
        lit("<a href=\"#top\">top</a>")).otherwise(lit(""))
      val html = concat(
        lit("<html><head><title>"), col("source"),
        lit("</title><style>body { margin:0; }</style>"),
        lit("<script>if (1 < 2) { emit(\"&amp;\"); }</script></head><body><h1>"),
        col("lang"), lit("</h1><p>"), body,
        lit("</p><a href=\"/doc/"), col("doc_id").cast("string"), lit("\">next</a>"),
        extraLink, lit("<p>&lt;c&gt; 2026 &amp; graft</p></body></html>"))
      val noBlocks = regexp_replace(
        regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " "),
        "(?s)<style[^>]*>.*?</style>", " ")
      val decoded = regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(noBlocks, "<[^>]+>", " "),
        "&lt;", "<"), "&gt;", ">"), "&amp;", "&")
      val textOut = trim(regexp_replace(decoded, "\\s+", " "))
      d.select(col("source"),
          length(html).as("ch"), length(textOut).as("ct"),
          regexp_count(html, lit("<a ")).as("lk"),
          regexp_extract(html, "<title>([^<]*)</title>", 1).as("title"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("lk").cast("long")).as("links"),
          sum(col("ch").cast("long")).as("chars_html"),
          sum(col("ct").cast("long")).as("chars_text"),
          Det.roundAt(sum(col("ct")).cast("double") / sum(col("ch")).cast("double"), 6)
            .as("retention"),
          sum(when(col("title") === col("source"), 1L).otherwise(0L)).as("titles_ok"))
        .orderBy("source")
    },
    Some(s"""WITH h AS (SELECT source,
          '<html><head><title>' || source || '</title><style>body { margin:0; }</style>'
          || '<script>if (1 < 2) { emit("&amp;"); }</script></head><body><h1>' || lang || '</h1><p>'
          || replace(text, 'value', 'v&amp;lue')
          || '</p><a href="/doc/' || CAST(doc_id AS VARCHAR) || '">next</a>'
          || (CASE WHEN doc_id % 2 = 0 THEN '<a href="#top">top</a>' ELSE '' END)
          || '<p>&lt;c&gt; 2026 &amp; graft</p></body></html>' AS html
        FROM documents),
        t AS (SELECT source, html,
          trim(regexp_replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
              '<[^>]+>', ' ', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&amp;', '&'), '\\s+', ' ', 'g')) AS txt,
          len(regexp_extract_all(html, '<a ')) AS links,
          regexp_extract(html, '<title>([^<]*)</title>', 1) AS title
        FROM h)
        SELECT source, COUNT(*) AS n_docs, CAST(SUM(links) AS BIGINT) AS links,
          CAST(SUM(len(html)) AS BIGINT) AS chars_html,
          CAST(SUM(len(txt)) AS BIGINT) AS chars_text,
          ${Det.roundAtSql("SUM(len(txt)) * 1.0 / SUM(len(html))", 6)} AS retention,
          CAST(SUM(CASE WHEN title = source THEN 1 ELSE 0 END) AS BIGINT) AS titles_ok
        FROM t GROUP BY source ORDER BY source"""),
    headline = true)

  // q166 — URL parse + per-registered-domain stats (web-corpus curation
  // runs per-domain quality/robots policy, so host extraction and domain
  // rollup are the grain everything downstream keys on). Deterministic
  // URLs are synthesized per doc from a 7-host pool; the Spark side
  // parses with the codegen'd Hive-style `parse_url` builtin (HOST /
  // PATH / QUERY / per-key QUERY), the oracle re-derives the identical
  // parts with anchored regexes. Registered domain = last two host
  // labels — the per-domain rollup merges the www/news/bare-apex hosts,
  // which is exactly what it must do at corpus scale.
  private val q166 = Q(
    "q166_url_stats",
    (s, dir) => {
      val url = concat(lit("https://"), hostOf(col("doc_id")),
        lit("/"), col("source"), lit("/"), col("lang"),
        lit("/page-"), col("doc_id").cast("string"),
        when(pmod(col("doc_id"), lit(3L)) === 0L, lit("?ref=rss&utm=mail"))
          .otherwise(lit("")))
      val host = parse_url(url, lit("HOST"))
      val path = parse_url(url, lit("PATH"))
      tbl(s, dir, "documents")
        .select(col("doc_id"), url.as("url"), host.as("host"),
          regDomain(host).as("domain"),
          (size(split(regexp_replace(path, "^/", ""), "/"))).as("depth"),
          parse_url(url, lit("QUERY")).isNotNull.as("has_q"),
          (parse_url(url, lit("QUERY"), lit("ref")) === "rss").as("ref_rss"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          sum(col("depth").cast("long")).as("depth_sum"),
          Det.roundAt(sum(col("depth")).cast("double") / count(lit(1)), 6).as("avg_depth"),
          sum(when(col("has_q"), 1L).otherwise(0L)).as("with_query"),
          sum(when(col("ref_rss"), 1L).otherwise(0L)).as("ref_rss"))
        .orderBy("domain")
    },
    Some(s"""WITH u AS (SELECT doc_id,
          'https://' || ${hostOfSql("doc_id")}
          || '/' || source || '/' || lang || '/page-' || CAST(doc_id AS VARCHAR)
          || (CASE WHEN doc_id % 3 = 0 THEN '?ref=rss&utm=mail' ELSE '' END) AS url
        FROM documents),
        p AS (SELECT doc_id, url,
          regexp_extract(url, '^https://([^/]+)', 1) AS host,
          regexp_extract(url, '^https://[^/]+([^?]*)', 1) AS path,
          contains(url, '?') AS has_q,
          regexp_extract(url, '[?&]ref=([^&]*)', 1) = 'rss' AS ref_rss
        FROM u)
        SELECT regexp_extract(host, $regDomainSqlRe, 1) AS domain,
          COUNT(*) AS n_docs,
          CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
          CAST(SUM(len(string_split(substr(path, 2), '/'))) AS BIGINT) AS depth_sum,
          ${Det.roundAtSql("SUM(len(string_split(substr(path, 2), '/'))) * 1.0 / COUNT(*)", 6)} AS avg_depth,
          CAST(SUM(CASE WHEN has_q THEN 1 ELSE 0 END) AS BIGINT) AS with_query,
          CAST(SUM(CASE WHEN ref_rss THEN 1 ELSE 0 END) AS BIGINT) AS ref_rss
        FROM p GROUP BY 1 ORDER BY 1"""))

  // q168 — MIXED-CONTAINER dimension parsing (q122 widened to the real
  // zoo): per doc one of a real PNG (IHDR), a real JPEG (SOI + APP0 +
  // SOF0 — dimensions only reachable by WALKING the length-prefixed
  // marker chain), or a real GIF89a (little-endian logical screen
  // descriptor). The sniffed format dispatches to the matching
  // byte-level parser, recovering (width, height) regardless of
  // container; the oracle recomputes the
  // dimension formulas arithmetically, so equality proves each parser
  // inverts its builder bit-for-bit across byte orders and offsets. All
  // narrow per-row column ops; the aggregate is format-grain.
  private val q168 = Q(
    "q168_container_dims",
    (s, dir) => {
      import graft.operators.Multimodal
      val w = (lit(16) + col("doc_id") % 2000).cast("int")
      val h = (lit(12) + col("doc_id") % 1200).cast("int")
      val payload = when(pmod(col("doc_id"), lit(3L)) === 0L, Multimodal.pngPayload(w, h))
        .when(pmod(col("doc_id"), lit(3L)) === 1L, Multimodal.jpegPayload(w, h))
        .otherwise(Multimodal.gifPayload(w, h))
      tbl(s, dir, "documents")
        .select(col("doc_id"), payload.as("bytes"))
        .select(Multimodal.sniffFormat(col("bytes")).as("fmt"), col("bytes"))
        .select(col("fmt"),
          when(col("fmt") === "png", Multimodal.pngDims(col("bytes")))
            .when(col("fmt") === "jpeg", Multimodal.jpegDims(col("bytes")))
            .when(col("fmt") === "gif", Multimodal.gifDims(col("bytes")))
            .as("dims"))
        .groupBy("fmt")
        .agg(count(lit(1)).as("cnt"),
          sum(col("dims.width")).as("w_sum"),
          sum(col("dims.height")).as("h_sum"),
          max(col("dims.width")).as("w_max"),
          max(col("dims.height")).as("h_max"),
          count(when(col("dims").isNull || col("dims.width").isNull, lit(1)))
            .as("parse_fails"))
        .orderBy("fmt")
    },
    Some("""WITH m AS (SELECT doc_id,
          (CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END) AS fmt,
          16 + doc_id % 2000 AS w, 12 + doc_id % 1200 AS h
        FROM documents)
        SELECT fmt, COUNT(*) AS cnt,
          CAST(SUM(w) AS BIGINT) AS w_sum, CAST(SUM(h) AS BIGINT) AS h_sum,
          CAST(MAX(w) AS BIGINT) AS w_max, CAST(MAX(h) AS BIGINT) AS h_max,
          CAST(0 AS BIGINT) AS parse_fails
        FROM m GROUP BY fmt ORDER BY fmt"""))

  // q169 — BEST-WINDOW SNIPPET EXTRACTION (the RAG context step: given a
  // query, return not just the matching doc but WHERE in it to read):
  // for each doc, the query-term hit positions, then the 8-token window
  // holding the most hits — computed entirely with nested array lambdas
  // (filter/transform over the token sequence, no explode, no UDF), so
  // each doc is one narrow row-local evaluation. The (count, earliest
  // start) argmax is encoded into ONE integer (cnt·10⁶ − start) so a
  // single array_max resolves both the max and its tie-break — an
  // associative trick any engine reduces identically (precondition:
  // docs under 10⁶ tokens, or the -p term bleeds into the count field —
  // far above any chunked-corpus doc; raise the constant for book-length
  // inputs). Top 20 docs via orderBy+limit → TakeOrdered, never a
  // global sort. Zero-token docs are filtered BEFORE the position
  // sequence is built — sequence(0, -1) runs descending and would probe
  // index 0.
  private val q169 = Q(
    "q169_snippet",
    (s, dir) => {
      val W = 8
      // ROUND 15: both per-row kernels are native expressions
      // (plans/TokenExprs.scala) — the HOF spelling ran an interpreted
      // lambda per TOKEN (positions) and per HIT (window count), 11.7 s
      // of single-task CPU at sf0.1. Semantics pinned equal by
      // TokenExprsSpec; the zero-token pre-filter is subsumed: a doc
      // with no tokens has no hits and drops at size(pos) > 0 exactly
      // as it dropped at size(toks) > 0 before (hit targets are
      // non-empty strings, so the empty-vs-absent token distinction of
      // split('') can never produce a hit).
      val positions = graft.plans.TokenEqPositionsExpr(
        TextFns.normText(col("text")), Seq("join", "merge"))
      val enc = graft.plans.BestWindowEncExpr(col("pos"), W)
      tbl(s, dir, "documents")
        .select(col("doc_id"), positions.as("pos"))
        .filter(size(col("pos")) > 0)
        .select(col("doc_id"), size(col("pos")).cast("long").as("n_hits"), enc.as("enc"))
        .select(col("doc_id"), col("n_hits"),
          floor((col("enc") + 999999L) / lit(1000000L)).cast("long").as("best_cnt"),
          (floor((col("enc") + 999999L) / lit(1000000L)).cast("long") * 1000000L
            - col("enc")).as("best_start"))
        .orderBy(desc("best_cnt"), asc("doc_id")).limit(20)
    },
    Some(s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
        p AS (SELECT doc_id,
            list_filter(range(0, len(toks)), i -> toks[i + 1] IN ('join', 'merge')) AS pos
          FROM t),
        h AS (SELECT doc_id, CAST(len(pos) AS BIGINT) AS n_hits,
            list_max(list_transform(pos, p ->
              CAST(len(list_filter(pos, q -> q >= p AND q < p + 8)) AS BIGINT) * 1000000 - p)) AS enc
          FROM p WHERE len(pos) > 0)
        SELECT doc_id, n_hits,
          CAST((enc + 999999) // 1000000 AS BIGINT) AS best_cnt,
          CAST(((enc + 999999) // 1000000) * 1000000 - enc AS BIGINT) AS best_start
        FROM h ORDER BY best_cnt DESC, doc_id ASC LIMIT 20"""))

  // q170 — CCNet-STYLE PERPLEXITY PARTITION: split each language's
  // corpus into head/middle/tail terciles by LM cross-entropy (q138's
  // self-trained unigram model) — the curation step that keeps the
  // fluent third, samples the middle, drops the tail. Exact ntile(3)
  // over (xent, doc_id) keeps the oracle bit-exact; at corpus scale the
  // identical downstream shape runs off one-pass approx-percentile
  // thresholds instead of the per-lang sort (the partition boundaries
  // are the only thing the sort is buying here). Reported per (lang,
  // bucket): doc count and the xent bounds — i.e. the thresholds a
  // production run would publish.
  private val q170 = Q(
    "q170_ccnet_buckets",
    (s, dir) => {
      val xent = graft.operators.Lm
        .unigramXent(tbl(s, dir, "documents"), "doc_id", "text", Seq("lang"))
      val w = Window.partitionBy("lang").orderBy(col("doc_xent"), col("doc_id"))
      xent.withColumn("b", ntile(3).over(w))
        .withColumn("bucket",
          element_at(lit(Array("head", "middle", "tail")), col("b")))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_xent")).as("xent_lo"),
          max(col("doc_xent")).as("xent_hi"))
        .orderBy("lang", "bucket")
    },
    Some(s"""WITH tk AS (SELECT doc_id, lang, u.tok AS tok
          FROM documents, unnest($toks) AS u(tok)),
        cnts AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total, COUNT(*) AS vocab
          FROM cnts),
        probs AS (SELECT tok,
            ${Det.roundAtSql("-ln((cnt + 1.0) / (n_total + vocab))", 6)} AS xent
          FROM cnts, tot),
        docx AS (SELECT doc_id, lang,
            ${Det.roundAtSql("CAST(SUM(CAST(xent AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)", 4)} AS dx
          FROM tk JOIN probs USING (tok) GROUP BY doc_id, lang),
        bk AS (SELECT lang, dx,
            (['head', 'middle', 'tail'])[NTILE(3) OVER (PARTITION BY lang ORDER BY dx, doc_id)] AS bucket
          FROM docx)
        SELECT lang, bucket, COUNT(*) AS n_docs,
          MIN(dx) AS xent_lo, MAX(dx) AS xent_hi
        FROM bk GROUP BY lang, bucket ORDER BY lang, bucket"""))

  // q171 — DATASET CARD rollup: the per-(source, lang) summary a corpus
  // release ships — doc counts, token mass, mean quality, exact-dup
  // share, mean length — with rollup subtotals so the corpus-wide line
  // and per-source lines come out of ONE aggregation pass. The dup flag
  // is the q21 exact-dedup grain (fingerprint groupBy, the only extra
  // shuffle, expressed as a count-over-fingerprint window). Quality
  // is pre-rounded per doc (1e-6) and summed in exact decimal, so every
  // mean is order-independent; all remaining measures are integers.
  private val q171 = Q(
    "q171_dataset_card",
    (s, dir) => {
      val base = tbl(s, dir, "documents").select(
        col("source"), col("lang"), col("doc_id"),
        TextFns.qualityScore(col("text")).as("q"),
        TextFns.tokenCount(col("text")).cast("long").as("nt"),
        length(col("text")).cast("long").as("nc"),
        TextFns.portableHash(TextFns.normText(col("text"))).as("fp"))
      base.withColumn("c", count(lit(1)).over(Window.partitionBy("fp")))
        .rollup("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("tokens"),
          Det.roundAt(Det.dsum(col("q"), 6) / count(lit(1)), 6).as("avg_quality"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("dup_docs"),
          Det.roundAt(sum(when(col("c") > 1, 1L).otherwise(0L)).cast("double")
            / count(lit(1)).cast("double"), 6).as("dup_rate"),
          Det.roundAt(sum(col("nc")).cast("double") / count(lit(1)).cast("double"), 6)
            .as("avg_chars"))
        .select(coalesce(col("source"), lit("(all)")).as("source"),
          coalesce(col("lang"), lit("(all)")).as("lang"),
          col("n_docs"), col("tokens"), col("avg_quality"),
          col("dup_docs"), col("dup_rate"), col("avg_chars"))
        .orderBy("source", "lang")
    },
    Some(s"""WITH base AS (SELECT source, lang, doc_id,
          $qualityScoreSql AS q, CAST(len($toks) AS BIGINT) AS nt,
          CAST(len(text) AS BIGINT) AS nc,
          ${hSql(norm)} AS fp
        FROM documents),
        fpc AS (SELECT fp, COUNT(*) AS c FROM base GROUP BY fp)
        SELECT COALESCE(source, '(all)') AS source, COALESCE(lang, '(all)') AS lang,
          COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS tokens,
          ${Det.roundAtSql("CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)", 6)} AS avg_quality,
          CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
          ${Det.roundAtSql(
            "CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)} AS dup_rate,
          ${Det.roundAtSql("CAST(SUM(nc) AS DOUBLE) / COUNT(*)", 6)} AS avg_chars
        FROM base JOIN fpc USING (fp)
        GROUP BY ROLLUP(source, lang) ORDER BY source, lang"""),
    headline = true)

  // q172 — PMI CO-OCCURRENCE over a ±2 token window (the collocation
  // statistic behind phrase mining and word-vector objectives — bigram
  // counts (q88) only see ADJACENT tokens). Pair building is row-local
  // array lambdas (each position pairs with +1/+2, unordered pair
  // canonicalized lexically), ONE explode at pair grain, one groupBy —
  // never a token-stream self-join. PMI = ln(c_ab·N²/(P·c_a·c_b)) is
  // written with the identical operand order in both engines (integer
  // counts → double products → one ln), rounded at 1e-6. Support floor
  // c_ab ≥ 40 keeps the output the stable head of the distribution.
  private val q172 = Q(
    "q172_pmi_cooc",
    (s, dir) => {
      val toks = TextFns.tokens(col("text"))
      // ROUND 15: native pair kernel (plans/PairExprs.scala) — the HOF
      // spelling ran interpreted element_at/least/greatest lambdas per
      // pair (~0.85 s of single-task CPU at sf0.1). Same pairs, same
      // duplicates, pinned in PairExprsSpec.
      val pairs = graft.plans.WindowTokenPairsExpr(col("toks"))
      // tokenize ONCE: both the pair explode and the unigram count read
      // the checkpointed token arrays (same shave as q119 — the regexp
      // tokenization is the dominant cost, not the aggregates); pc is
      // checkpointed because the pair total AND the PMI join consume it
      val d = graft.operators.Ckpt.local(
        tbl(s, dir, "documents").select(toks.as("toks"))
          .filter(size(col("toks")) > 1))
      val pc = graft.operators.Ckpt.local(
        d.select(explode(pairs).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("c_ab")))
      val uc = d.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val nTot = uc.agg(sum(col("c")).as("n_tok"))
      val pTot = pc.agg(sum(col("c_ab")).as("n_pair"))
      pc.filter(col("c_ab") >= 40)
        .join(broadcast(uc).withColumnRenamed("tok", "a").withColumnRenamed("c", "c_a"), "a")
        .join(broadcast(uc).withColumnRenamed("tok", "b").withColumnRenamed("c", "c_b"), "b")
        .crossJoin(broadcast(nTot)).crossJoin(broadcast(pTot))
        .select(col("a"), col("b"), col("c_ab"),
          Det.roundAt(log(
            col("c_ab").cast("double") * col("n_tok").cast("double") * col("n_tok").cast("double")
              / (col("n_pair").cast("double") * col("c_a").cast("double") * col("c_b").cast("double"))),
            6).as("pmi"))
        .orderBy(desc("pmi"), asc("a"), asc("b")).limit(20)
    },
    Some(s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
        d AS (SELECT doc_id, toks FROM t WHERE len(toks) > 1),
        pr AS (SELECT u.p AS p FROM d, unnest(
            flatten(list_transform(range(0, greatest(len(toks) - 1, 1)),
              i -> list_filter([
                CASE WHEN i + 1 <= len(toks) - 1 THEN
                  {'a': least(toks[i + 1], toks[i + 2]), 'b': greatest(toks[i + 1], toks[i + 2])} END,
                CASE WHEN i + 2 <= len(toks) - 1 THEN
                  {'a': least(toks[i + 1], toks[i + 3]), 'b': greatest(toks[i + 1], toks[i + 3])} END],
                x -> x IS NOT NULL)))) AS u(p)),
        pc AS (SELECT p.a AS a, p.b AS b, COUNT(*) AS c_ab FROM pr GROUP BY 1, 2),
        uc AS (SELECT u.tok AS tok, COUNT(*) AS c FROM d, unnest(toks) AS u(tok) GROUP BY 1),
        nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uc),
        np AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_pair FROM pc)
        SELECT a, b, c_ab,
          ${Det.roundAtSql(
            "ln(CAST(c_ab AS DOUBLE) * CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE)" +
            " / (CAST(n_pair AS DOUBLE) * CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)))", 6)} AS pmi
        FROM pc JOIN uc ca ON pc.a = ca.tok JOIN uc cb ON pc.b = cb.tok
          CROSS JOIN nt CROSS JOIN np
        WHERE c_ab >= 40
        ORDER BY pmi DESC, a ASC, b ASC LIMIT 20"""),
    headline = true)

  // q173 — TWO-SAMPLE KOLMOGOROV-SMIRNOV drift test between two sources'
  // quality-score distributions — the distribution-shape complement to
  // q144's binned PSI (KS needs no bin choice and catches shifts PSI's
  // bins smear). Exact: per distinct score the per-source counts, both
  // cumulative counts via ONE two-level prefix sum over the score grain
  // ([[graft.operators.PrefixSum]] — 4096-wide micro-unit blocks in
  // parallel, one tiny block-offset window, never a single-partition
  // window even when the 10⁶-value grain saturates), D = max |F̂₁ − F̂₂|
  // — integers until a single division per distinct value, so both
  // engines agree bitwise. The critical value c(α)·√((n₁+n₂)/(n₁n₂)) at
  // α = 0.05 ships with the verdict bit.
  private val q173 = Q(
    "q173_ks_drift",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), TextFns.qualityScore(col("text")).as("v"))
      val cell = d.groupBy("v").agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("cb"))
      val tot = cell.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      // block key coalesce-declared non-nullable (floor is syntactically
      // always-nullable; an inferred isnotnull(<block key>) pushes below
      // the score aggregation and re-derives the quality pipeline per row)
      graft.operators.PrefixSum.overKeys(cell, "v",
          coalesce(floor(col("v") * 1000000.0 / 4096.0).cast("long"),
            lit(Long.MinValue)), inclusive = true,
          Seq("ca" -> "cuma", "cb" -> "cumb"))
        .crossJoin(broadcast(tot))
        .select(col("na"), col("nb"),
          abs(col("cuma").cast("double") / col("na").cast("double")
            - col("cumb").cast("double") / col("nb").cast("double")).as("diff"))
        .groupBy("na", "nb")
        .agg(Det.roundAt(max(col("diff")), 6).as("ks_d"))
        .select(col("na"), col("nb"), col("ks_d"),
          Det.roundAt(lit(1.358) * sqrt((col("na") + col("nb")).cast("double")
            / (col("na") * col("nb")).cast("double")), 6).as("crit_05"),
          (col("ks_d") > lit(1.358) * sqrt((col("na") + col("nb")).cast("double")
            / (col("na") * col("nb")).cast("double"))).as("drifted"))
    },
    Some(s"""WITH d AS (SELECT source, $qualityScoreSql AS v FROM documents
          WHERE source IN ('src0', 'src1')),
        cell AS (SELECT v,
            CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
            CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS cb
          FROM d GROUP BY v),
        tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM cell),
        cum AS (SELECT v, SUM(ca) OVER w AS cuma, SUM(cb) OVER w AS cumb
          FROM cell WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        diffs AS (SELECT na, nb,
            abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
              - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE)) AS diff
          FROM cum CROSS JOIN tot),
        agg AS (SELECT na, nb, ${Det.roundAtSql("MAX(diff)", 6)} AS ks_d
          FROM diffs GROUP BY na, nb)
        SELECT na, nb, ks_d,
          ${Det.roundAtSql(
            "1.358 * sqrt(CAST(na + nb AS DOUBLE) / CAST(na * nb AS DOUBLE))", 6)} AS crit_05,
          ks_d > 1.358 * sqrt(CAST(na + nb AS DOUBLE) / CAST(na * nb AS DOUBLE)) AS drifted
        FROM agg"""))

  // q174 — GINI CONCENTRATION of the token frequency distribution (the
  // Zipf-shape audit: how much of the corpus the head owns — a
  // vocabulary-collapse red flag when it spikes between snapshots).
  // G = (2·Σᵢ i·cᵢ − (n+1)·Σcᵢ) / (n·Σcᵢ) over counts ranked ascending:
  // every term is an INTEGER sum (tie-blocks contribute identically
  // under any permutation because tied counts are equal), one division
  // at the end. Rank runs at vocab grain, not corpus grain; top-100
  // share uses the deterministic (count desc, token asc) cut.
  private val q174 = Q(
    "q174_token_gini",
    (s, dir) => {
      val uc = tbl(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      // global rank i over (c, tok) in TWO LEVELS (vocab scales with the
      // corpus, so no single-partition row_number): within-count rank by
      // token in parallel, plus a count-grain exclusive offset window
      // (distinct count VALUES are few) — i = offset + within-rank
      val wIn = Window.partitionBy("c").orderBy("tok")
      val wOff = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
      val off = uc.groupBy("c").agg(count(lit(1)).as("nc"))
        .withColumn("coff", coalesce(sum(col("nc")).over(wOff), lit(0L)))
        .select("c", "coff")
      val ranked = uc
        .withColumn("ri", row_number().over(wIn).cast("long"))
        .join(off, Seq("c"))
        .withColumn("i", col("coff") + col("ri"))
      val top100 = uc.orderBy(desc("c"), asc("tok")).limit(100)
        .agg(sum(col("c")).as("top_c"))
      ranked.agg(
          count(lit(1)).as("n_vocab"),
          sum(col("c")).as("n_tokens"),
          sum(col("i") * col("c")).as("ric"))
        .crossJoin(broadcast(top100))
        .select(col("n_vocab"), col("n_tokens"),
          Det.roundAt((lit(2.0) * col("ric").cast("double")
            - (col("n_vocab") + 1L).cast("double") * col("n_tokens").cast("double"))
            / (col("n_vocab").cast("double") * col("n_tokens").cast("double")), 6).as("gini"),
          Det.roundAt(col("top_c").cast("double") / col("n_tokens").cast("double"), 6)
            .as("top100_share"))
    },
    Some(s"""WITH uc AS (SELECT u.tok AS tok, COUNT(*) AS c
          FROM documents, unnest($toks) AS u(tok) GROUP BY 1),
        ranked AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c, tok) AS i FROM uc),
        t100 AS (SELECT CAST(SUM(c) AS BIGINT) AS top_c
          FROM (SELECT c FROM uc ORDER BY c DESC, tok ASC LIMIT 100)),
        agg AS (SELECT COUNT(*) AS n_vocab, CAST(SUM(c) AS BIGINT) AS n_tokens,
            CAST(SUM(i * c) AS BIGINT) AS ric
          FROM ranked)
        SELECT n_vocab, n_tokens,
          ${Det.roundAtSql(
            "(2.0 * CAST(ric AS DOUBLE) - CAST(n_vocab + 1 AS DOUBLE) * CAST(n_tokens AS DOUBLE))" +
            " / (CAST(n_vocab AS DOUBLE) * CAST(n_tokens AS DOUBLE))", 6)} AS gini,
          ${Det.roundAtSql("CAST(top_c AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 6)} AS top100_share
        FROM agg CROSS JOIN t100"""))

  // q175 — DOMAIN-SHRUNK QUALITY PRIOR (empirical-Bayes shrinkage): a
  // host with 3 docs shouldn't live or die on its own mean — shrink each
  // host's quality toward its registered domain's mean with pseudo-count
  // k = 20 (q_host·n + q̄_domain·k)/(n + k), the per-host admission prior
  // a web-corpus filter actually thresholds on. Sums are decimal-exact
  // over pre-rounded per-doc scores; the shrinkage mix is written with
  // identical operand order in both engines. Two tiny host/domain-grain
  // aggregations after one corpus pass.
  private val q175 = Q(
    "q175_domain_prior",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val host = hostOf(col("doc_id"))
      val base = tbl(s, dir, "documents").select(
        host.as("host"), regDomain(host).as("domain"),
        TextFns.qualityScore(col("text")).as("q"))
      // host sums stay DECIMAL through the domain re-aggregation — a
      // double sum at domain grain would reintroduce aggregation-order
      // dependence exactly where hosts merge
      val hostAgg = base.groupBy("domain", "host")
        .agg(count(lit(1)).as("n_h"),
          sum(col("q").cast(DecimalType(28, 6))).as("qs_dec"))
      val domAgg = hostAgg.groupBy("domain")
        .agg(sum(col("n_h")).as("n_d"), sum(col("qs_dec")).as("qsd_dec"))
      hostAgg.join(broadcast(domAgg), "domain")
        .select(col("domain"), col("host"), col("n_h").as("n_docs"),
          Det.roundAt(col("qs_dec").cast("double") / col("n_h").cast("double"), 6)
            .as("q_raw"),
          Det.roundAt((col("qs_dec").cast("double")
            + lit(20.0) * (col("qsd_dec").cast("double") / col("n_d").cast("double")))
            / (col("n_h") + lit(20L)).cast("double"), 6).as("q_shrunk"))
        .orderBy("domain", "host")
    },
    Some(s"""WITH base AS (SELECT ${hostOfSql("doc_id")} AS host,
          $qualityScoreSql AS q
        FROM documents),
        h AS (SELECT regexp_extract(host, $regDomainSqlRe, 1) AS domain, host,
            CAST(COUNT(*) AS BIGINT) AS n_h,
            SUM(CAST(q AS DECIMAL(28,6))) AS qs_dec
          FROM base GROUP BY 1, 2),
        d AS (SELECT domain, CAST(SUM(n_h) AS BIGINT) AS n_d,
            SUM(qs_dec) AS qsd_dec
          FROM h GROUP BY 1)
        SELECT domain, host, n_h AS n_docs,
          ${Det.roundAtSql("CAST(qs_dec AS DOUBLE) / CAST(n_h AS DOUBLE)", 6)} AS q_raw,
          ${Det.roundAtSql(
            "(CAST(qs_dec AS DOUBLE) + 20.0 * (CAST(qsd_dec AS DOUBLE) / CAST(n_d AS DOUBLE)))" +
            " / CAST(n_h + 20 AS DOUBLE)", 6)} AS q_shrunk
        FROM h JOIN d USING (domain) ORDER BY domain, host"""))

  // q176 — QUALITY-AWARE DEDUP SURVIVORS: q63 keeps each cluster's MIN
  // id; a curation pipeline keeps its BEST doc. Same LSH pairs → same
  // connected components, but the survivor is argmax (quality, then min
  // id) per cluster — one row_number window at cluster grain over the
  // clustered minority. The per-lang id_sum pins exactly which docs
  // survive, so the oracle proves the argmax choice, not just counts
  // (and differs from q63's id_sum wherever best ≠ min-id).
  private val q176 = Q(
    "q176_dedup_best",
    (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs
      val cl = Dedup.clusters(pairs)
      val q = docs.select(col("doc_id"), col("lang"),
        TextFns.qualityScore(col("text")).as("q"))
      val member = q.join(cl, q("doc_id") === cl("id"), "left")
        .select(col("doc_id"), col("lang"), col("q"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
      val w = Window.partitionBy("cluster").orderBy(desc("q"), asc("doc_id"))
      member.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"),
          Det.roundAt(Det.dsum(col("q"), 6), 6).as("q_sum"))
        .orderBy("lang")
    },
    Some(s"""WITH $minhashCtes, $ccCtes,
        qd AS (SELECT doc_id, lang, $qualityScoreSql AS q FROM documents),
        m AS (SELECT qd.doc_id, qd.lang, qd.q,
            COALESCE(cc.cluster, qd.doc_id) AS cluster
          FROM qd LEFT JOIN cc ON qd.doc_id = cc.id),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
            ORDER BY q DESC, doc_id) AS rn FROM m)
        SELECT lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
          ${Det.roundAtSql("CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE)", 6)} AS q_sum
        FROM r WHERE rn = 1 GROUP BY lang ORDER BY lang"""))

  // q177 — CROSS-SOURCE DUPLICATION MATRIX: how much identical content
  // each source pair shares (the dataset-card's provenance-overlap page,
  // and the first question when two crawls are merged). Exact-dup
  // fingerprints → distinct (fp, source) → fp-grain self-join with
  // source < source — the join runs at DISTINCT-CONTENT grain, so its
  // cost is bounded by content cardinality, not rows; the upper-triangle
  // predicate halves it. Reported per ordered pair: shared distinct
  // contents and each side's distinct total.
  private val q177 = Q(
    "q177_source_overlap",
    (s, dir) => {
      val fps = tbl(s, dir, "documents")
        .select(col("source"),
          TextFns.portableHash(TextFns.normText(col("text"))).as("fp"))
        .distinct()
      val tot = fps.groupBy("source").agg(count(lit(1)).as("n_fp"))
      val a = fps.toDF("src_a", "fp")
      val b = fps.toDF("src_b", "fp")
      a.join(b, Seq("fp")).filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared"))
        .join(broadcast(tot.toDF("src_a", "n_a")), "src_a")
        .join(broadcast(tot.toDF("src_b", "n_b")), "src_b")
        .select(col("src_a"), col("src_b"), col("shared"), col("n_a"), col("n_b"))
        .orderBy("src_a", "src_b")
    },
    Some(s"""WITH fps AS (SELECT DISTINCT source, ${hSql(norm)} AS fp FROM documents),
        tot AS (SELECT source, COUNT(*) AS n_fp FROM fps GROUP BY 1)
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared,
          MAX(ta.n_fp) AS n_a, MAX(tb.n_fp) AS n_b
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
          JOIN tot ta ON ta.source = a.source
          JOIN tot tb ON tb.source = b.source
        GROUP BY 1, 2 ORDER BY 1, 2"""))

  // q178 — LSH CONFIG TUNER: evaluate the S-curve p(s) = 1−(1−s^r)^b of
  // every (bands, rows) split of the 32-hash signature against the
  // OBSERVED candidate-pair similarity histogram — the capacity-planning
  // question ("what recall/false-candidate trade does each banding buy
  // on MY corpus?") answered from data the current banding already
  // produced, conditional on that candidate set. Histogram is 0.05-bin
  // at candidate-pair grain; p(s) is built by REPEATED SQUARING (all
  // b, r here are powers of two), so both engines execute the identical
  // IEEE multiplication tree — no libm pow. Per-bin masses quantize at
  // 1e-6 before the decimal-exact sum.
  private val q178 = Q(
    "q178_lsh_tune",
    (s, dir) => {
      def powChain(base: Column, e: Int): Column =
        if (e == 1) base else { val h = powChain(base, e / 2); h * h }
      val pairs = Dedup.minhashLshPairs(tbl(s, dir, "documents"),
        "doc_id", "text", numHashes = 32, bands = 8, shingleN = 3, threshold = 0.0).pairs
      // the 4 config branches union over this ≤20-row histogram —
      // checkpoint it so the LSH pass runs once, not once per branch
      val hist = graft.operators.Ckpt.local(pairs
        .select((least(floor(col("jaccard") * 20), lit(19.0)) / 20 + 0.025).as("c"))
        .groupBy("c").agg(count(lit(1)).as("n")))
      val configs = Seq((4, 8), (8, 4), (16, 2), (32, 1))
      val scored = configs.map { case (b, r) =>
        hist.select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          col("c"), col("n"),
          (lit(1.0) - powChain(lit(1.0) - powChain(col("c"), r), b)).as("p"))
      }.reduce(_ unionAll _)
      scored.groupBy("bands", "rows_per_band")
        .agg(
          sum(when(col("c") >= 0.5, col("n")).otherwise(0L)).as("true_pairs"),
          Det.roundAt(Det.dsum(when(col("c") >= 0.5,
            Det.roundAt(col("n") * col("p"), 6)).otherwise(lit(0.0)), 6), 4)
            .as("exp_detected"),
          Det.roundAt(Det.dsum(when(col("c") >= 0.5,
            Det.roundAt(col("n") * col("p"), 6)).otherwise(lit(0.0)), 6)
            / sum(when(col("c") >= 0.5, col("n")).otherwise(0L)).cast("double"), 6)
            .as("est_recall"),
          Det.roundAt(Det.dsum(when(col("c") < 0.5,
            Det.roundAt(col("n") * col("p"), 6)).otherwise(lit(0.0)), 6), 4)
            .as("false_cand_mass"))
        .orderBy("bands")
    },
    Some {
      def powSql(b: String, e: Int): String =
        if (e == 1) b else { val h = powSql(b, e / 2); s"($h * $h)" }
      val cfg = Seq((4, 8), (8, 4), (16, 2), (32, 1)).map { case (b, r) =>
        val p = s"(1.0 - ${powSql(s"(1.0 - ${powSql("c", r)})", b)})"
        s"""SELECT $b AS bands, $r AS rows_per_band, c, n, $p AS p FROM jac"""
      }.mkString("\n          UNION ALL ")
      s"""WITH $minhashCtes,
        jp AS (SELECT least(floor(${jaccardSql("sh_a", "sh_b")} * 20), 19) / 20 + 0.025 AS c
          FROM cand),
        jac AS (SELECT c, COUNT(*) AS n FROM jp GROUP BY 1),
        cfgs AS ($cfg)
        SELECT bands, rows_per_band,
          CAST(SUM(CASE WHEN c >= 0.5 THEN n ELSE 0 END) AS BIGINT) AS true_pairs,
          ${Det.roundAtSql("CAST(SUM(CAST(CASE WHEN c >= 0.5 THEN " +
            Det.roundAtSql("n * p", 6) + " ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE)", 4)} AS exp_detected,
          ${Det.roundAtSql("CAST(SUM(CAST(CASE WHEN c >= 0.5 THEN " +
            Det.roundAtSql("n * p", 6) + " ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE)" +
            " / CAST(SUM(CASE WHEN c >= 0.5 THEN n ELSE 0 END) AS DOUBLE)", 6)} AS est_recall,
          ${Det.roundAtSql("CAST(SUM(CAST(CASE WHEN c < 0.5 THEN " +
            Det.roundAtSql("n * p", 6) + " ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE)", 4)} AS false_cand_mass
        FROM cfgs GROUP BY bands, rows_per_band ORDER BY bands"""
    })

  // q179 — DUP-CLUSTER SIZE HISTOGRAM (log₂ buckets): the shape of the
  // duplication graph — many pairs vs a few mega-clusters — decides
  // dedup strategy (mega-clusters mean boilerplate, not true dups).
  // Bucketing is an integer CASE chain on exact sizes (no ln/floor
  // boundary risk); all measures integer. Cluster sizes come from q39's
  // components at cluster grain.
  private val q179 = Q(
    "q179_cluster_hist",
    (s, dir) => {
      val pairs = Dedup.minhashLshPairs(tbl(s, dir, "documents"),
        "doc_id", "text", numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs
      val sizes = Dedup.clusters(pairs).groupBy("cluster").agg(count(lit(1)).as("sz"))
      val bucket = when(col("sz") >= 64, 64L).when(col("sz") >= 32, 32L)
        .when(col("sz") >= 16, 16L).when(col("sz") >= 8, 8L)
        .when(col("sz") >= 4, 4L).otherwise(2L)
      sizes.select(bucket.as("bucket_lo"), col("sz"))
        .groupBy("bucket_lo")
        .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
          max(col("sz")).as("max_size"))
        .orderBy("bucket_lo")
    },
    Some(s"""WITH $minhashCtes, $ccCtes,
        sz AS (SELECT cluster, COUNT(*) AS sz FROM cc GROUP BY cluster),
        bk AS (SELECT sz,
            (CASE WHEN sz >= 64 THEN 64 WHEN sz >= 32 THEN 32 WHEN sz >= 16 THEN 16
                  WHEN sz >= 8 THEN 8 WHEN sz >= 4 THEN 4 ELSE 2 END) AS bucket_lo
          FROM sz)
        SELECT CAST(bucket_lo AS BIGINT) AS bucket_lo, COUNT(*) AS n_clusters,
          CAST(SUM(sz) AS BIGINT) AS n_docs, CAST(MAX(sz) AS BIGINT) AS max_size
        FROM bk GROUP BY bucket_lo ORDER BY bucket_lo"""))

  // q180 — DIFFERENTIALLY-PRIVATE COUNT RELEASE (ε = 1, sensitivity 1):
  // per-lang doc counts with Laplace noise drawn by INVERSE CDF over the
  // engine's deterministic hash uniform (q139's trick aimed at privacy
  // release instead of sampling) — retry- and engine-stable noise, so
  // the released table is reproducible AND the oracle can replay it
  // bit-for-bit. The true count never appears in the output; negatives
  // clamp to 0 post-noise. One group-grain aggregate + a narrow noise
  // projection — nothing about the mechanism changes at corpus scale.
  // (A production release would key the hash on a secret salt; the
  // mechanism here demonstrates the plumbing, not a privacy guarantee —
  // a public salt leaks the noise.)
  private val q180 = Q(
    "q180_dp_release",
    (s, dir) => {
      val u = (pmod(TextFns.portableHash(concat(lit("dp:"), col("lang"))),
        lit(1000000L)).cast("double") + lit(0.5)) / lit(1000000.0)
      val lap = when(u >= 0.5, lit(-1.0)).otherwise(lit(1.0)) *
        log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
      tbl(s, dir, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .select(col("lang"),
          Det.roundAt(greatest(col("n").cast("double") + lap, lit(0.0)), 6)
            .as("released"),
          lit(1.0).as("epsilon"))
        .orderBy("lang")
    },
    Some {
      val uSql = s"((${hSql("'dp:' || lang")} % 1000000) + 0.5) / 1000000.0"
      s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        z AS (SELECT lang, n, $uSql AS u FROM c)
        SELECT lang,
          ${Det.roundAtSql(
            "greatest(CAST(n AS DOUBLE) + (CASE WHEN u >= 0.5 THEN -1.0 ELSE 1.0 END)" +
            " * ln(1.0 - 2.0 * abs(u - 0.5)), 0.0)", 6)} AS released,
          1.0 AS epsilon
        FROM z ORDER BY lang"""
    })

  // q183 — CROSS-SOURCE QUANTILE NORMALIZATION (score calibration when
  // crawls merge: source A's "0.7 quality" is not source B's — map each
  // source-local score to the GLOBAL score at the same quantile, then
  // measure how far each source's scale sits from the pooled one). Both
  // CDFs live at distinct-score grain (quality is 6-dp, domain ≤ 10⁶
  // values regardless of corpus size); the quantile lookup "smallest
  // global score whose CDF ≥ the source-local CDF" IS a forward as-of
  // join, encoded here in the BLOCKED two-level shape (an as-of on a
  // constant key would funnel the whole score grain through one window
  // task): both CDFs are bucketed by floor(pr·4096) — monotone in pr —
  // the in-block match is the standard tagged-union forward carry
  // partitioned BY BLOCK, and a src row whose block holds no global row
  // at-or-after its pr takes the minimum global score of the strictly
  // later blocks from a block-grain suffix lookup (≤ 4097 rows, the
  // PrefixSum block-totals pattern, broadcast back). Exactly the rows
  // the constant-key as-of would match — DuckDB's ASOF JOIN replays it
  // directly. CDF values are exact integer ratios, so the match points
  // are engine-identical; shifts are 6-dp quantized before the decimal
  // sum.
  private val q183 = Q(
    "q183_quantile_norm",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      // base feeds THREE consumers (source cells, global histogram, the
      // n_tot count) — as a lazy subtree each one re-ran the classifier
      // over the corpus. Checkpoint the SLIM (source, q) relation so the
      // classifier runs once (round 14).
      val base = graft.operators.Ckpt.local(
        tbl(s, dir, "documents")
          .select(col("source"), TextFns.qualityScore(col("text")).as("q")))
      val srcCell = base.groupBy("source", "q").agg(count(lit(1)).as("n"))
      val wS = Window.partitionBy("source").orderBy("q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val srcCdf = srcCell
        .withColumn("cum", sum(col("n")).over(wS))
        .withColumn("n_src", sum(col("n")).over(Window.partitionBy("source")))
        .select(col("source"), col("q"), col("n"),
          (col("cum").cast("double") / col("n_src").cast("double")).as("pr"))
      // global CDF at score grain via the two-level prefix sum (no
      // single-partition window even at a saturated 10⁶-value grain)
      // materialized once (lazy local checkpoint): it feeds BOTH the
      // tagged union and the block-suffix fallback lookup
      val globCdf = graft.operators.Ckpt.local(
        graft.operators.PrefixSum.overKeys(
            base.groupBy("q").agg(count(lit(1)).as("ng")), "q",
            floor(col("q") * 1000000.0 / 4096.0).cast("long"), inclusive = true,
            Seq("ng" -> "cum"))
          .crossJoin(broadcast(base.agg(count(lit(1)).as("n_tot"))))
          .select(col("q").as("gq"),
            (col("cum").cast("double") / col("n_tot").cast("double")).as("pr")))
      // blocked forward as-of: tag, union, carry "first global score at
      // or after this pr" within each pr block; cross-block fallback =
      // min global score of strictly later blocks (block-grain suffix)
      val block = floor(col("pr") * 4096.0).cast("long").as("_ab")
      val lRows = srcCdf.select(block, col("pr"), lit(1).as("_evt"),
        col("source"), col("q"), col("n"), lit(null).cast("double").as("gq"))
      val rRows = globCdf.select(block, col("pr"), lit(0).as("_evt"),
        lit(null).cast("string").as("source"), lit(null).cast("double").as("q"),
        lit(null).cast("long").as("n"), col("gq"))
      val wBlk = Window.partitionBy("_ab").orderBy(col("pr").desc, col("_evt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val carried = lRows.unionByName(rRows)
        .withColumn("_m", last(col("gq"), ignoreNulls = true).over(wBlk))
        .filter(col("_evt") === 1)
      val wSuf = Window.orderBy(col("_ab").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val nextBlk = lRows.select("_ab").union(rRows.select("_ab")).distinct()
        .join(globCdf.select(floor(col("pr") * 4096.0).cast("long").as("_ab"),
          col("gq")).groupBy("_ab").agg(min(col("gq")).as("_bg")),
          Seq("_ab"), "left")
        .withColumn("_ng", min(col("_bg")).over(wSuf))
        .select("_ab", "_ng")
      carried.join(broadcast(nextBlk), Seq("_ab"))
        .select(col("source"), col("n"),
          Det.roundAt(abs(coalesce(col("_m"), col("_ng")) - col("q")), 6)
            .as("shift"))
        .groupBy("source")
        .agg(sum(col("n")).as("n_docs"),
          Det.roundAt(sum((col("shift") * col("n").cast("double"))
            .cast(DecimalType(28, 6))).cast("double")
            / sum(col("n")).cast("double"), 6).as("mean_shift"),
          max(col("shift")).as("max_shift"))
        .orderBy("source")
    },
    Some(s"""WITH base AS (SELECT source, $qualityScoreSql AS q FROM documents),
        sc AS (SELECT source, q, CAST(COUNT(*) AS BIGINT) AS n
          FROM base GROUP BY 1, 2),
        scdf AS (SELECT source, q, n,
            CAST(SUM(n) OVER (PARTITION BY source ORDER BY q
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            / CAST(SUM(n) OVER (PARTITION BY source) AS DOUBLE) AS pr
          FROM sc),
        gc AS (SELECT q AS gq, CAST(COUNT(*) AS BIGINT) AS ng FROM base GROUP BY 1),
        gcdf AS (SELECT gq,
            CAST(SUM(ng) OVER (ORDER BY gq
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            / CAST((SELECT SUM(ng) FROM gc) AS DOUBLE) AS pr
          FROM gc),
        j AS (SELECT s.source, s.n,
            ${Det.roundAtSql("abs(g.gq - s.q)", 6)} AS shift
          FROM scdf s ASOF LEFT JOIN gcdf g ON s.pr <= g.pr)
        SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
          ${Det.roundAtSql(
            "CAST(SUM(CAST(shift * CAST(n AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)" +
            " / CAST(SUM(n) AS DOUBLE)", 6)} AS mean_shift,
          MAX(shift) AS max_shift
        FROM j GROUP BY source ORDER BY source"""))

  // q184 — IMAGE NEAR-DUP via perceptual dHash LSH: synthesize per-doc
  // 8×9 grayscale tiles as binary payloads (200 shared base patterns +
  // sparse per-variant pixel perturbations — the byte-level stand-in for
  // a decoder's resized output), fingerprint each with the native 64-bit
  // difference hash ([[graft.plans.DHashExpr]]), band 4×16 bits, bucket
  // self-join, verify hamming ≤ 10. Same-pattern variants differ in a few
  // gradient bits and pair up; unrelated patterns sit at ~32 bits apart
  // and never match. The hamming histogram + id_sum pins every surviving
  // pair. Oracle recomputes tile bytes AND hash arithmetically (the build
  // formula is pure doc_id arithmetic), so equality proves the byte
  // build → native hash → banding → verify chain bit-for-bit. Scale: the
  // shuffle carries 8-byte fingerprints, never payload bytes; mega-
  // buckets capped deterministically (observe-audited) like every LSH
  // path in the engine.
  private val q184 = Q(
    "q184_phash_neardup",
    (s, dir) => {
      import graft.operators.Multimodal
      val grp = col("doc_id") % 200
      val v = floor(col("doc_id") / 200).cast("long")
      val delta = when(v % 3 === 1, 60L).when(v % 3 === 2, 35L).otherwise(0L)
      val media = tbl(s, dir, "documents").select(col("doc_id"),
        Multimodal.grayTilePayload(72) { i =>
          (grp * 37 + i * 29 + (i * i * 13 + grp * i * 7) % 97) % 150 + lit(20) +
            when((v + i) % 19 === 0, delta).otherwise(0L)
        }.as("bytes"))
      Multimodal.phashPairs(media, "doc_id", "bytes", maxHamming = 10)
        .groupBy("hamming")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("id_a") + col("id_b")).as("id_sum"))
        .orderBy("hamming")
    },
    Some("""WITH px AS (SELECT doc_id, doc_id % 200 AS grp, doc_id // 200 AS v FROM documents),
        g AS (SELECT doc_id, list_transform(range(0, 72), i ->
            (grp*37 + i*29 + (i*i*13 + grp*i*7) % 97) % 150 + 20 +
            CASE WHEN (v + i) % 19 = 0
                 THEN CASE WHEN v % 3 = 1 THEN 60 WHEN v % 3 = 2 THEN 35 ELSE 0 END
                 ELSE 0 END) AS gray
          FROM px),
        hb AS (SELECT doc_id, list_transform(range(0, 4), b ->
            CAST(list_sum(list_transform(range(0, 16), j ->
              CASE WHEN gray[((b*16+j) // 8) * 9 + ((b*16+j) % 8) + 2]
                      > gray[((b*16+j) // 8) * 9 + ((b*16+j) % 8) + 1]
                   THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS bands
          FROM g),
        cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(bit_count(xor(a.bands[1], b.bands[1])) + bit_count(xor(a.bands[2], b.bands[2]))
               + bit_count(xor(a.bands[3], b.bands[3])) + bit_count(xor(a.bands[4], b.bands[4]))
              AS BIGINT) AS hamming
          FROM hb a JOIN hb b ON a.doc_id < b.doc_id
            AND (a.bands[1] = b.bands[1] OR a.bands[2] = b.bands[2]
              OR a.bands[3] = b.bands[3] OR a.bands[4] = b.bands[4]))
      SELECT hamming, COUNT(*) AS n_pairs, CAST(SUM(id_a + id_b) AS BIGINT) AS id_sum
      FROM cand WHERE hamming <= 10 GROUP BY hamming ORDER BY hamming"""))

  // q186 — VIDEO SCENE-CHANGE detection over sampled frames: synthesize
  // 8-frame payloads (16 bytes/frame, frame content a step function of
  // doc_id arithmetic — the stand-in for decoded keyframes), slice with
  // [[Multimodal.frameSample]] (the chunked frame-sampling operator),
  // fingerprint each frame with codegen'd crc32, and count per-media
  // fingerprint transitions with a lag window. The change-count histogram
  // + id_sum pins every media's boundary count. Oracle recomputes the
  // step function per frame directly — equality proves build → slice →
  // fingerprint → lag-compare end-to-end. Scale: frames never leave
  // their partition (narrow posexplode); the only shuffles are the
  // per-media lag window (media-grain, 8 rows each) and the tiny final
  // histogram.
  private val q186 = Q(
    "q186_scene_change",
    (s, dir) => {
      import graft.operators.Multimodal
      val k = col("doc_id") % 3 + lit(1)
      val media = tbl(s, dir, "documents").select(col("doc_id"),
        Multimodal.grayTilePayload(128) { i =>
          val f = floor(i / lit(16))
          (col("doc_id") % 7 * 31 + floor(f * k / lit(3)) * 17) % 251
        }.as("bytes"))
      val frames = Multimodal.frameSample(media, n = 8, chunkBytes = 16)
      val w = Window.partitionBy("doc_id").orderBy("frame_idx")
      frames.select(col("doc_id"), col("frame_idx"), crc32(col("frame")).as("fp"))
        .withColumn("chg", (col("fp") =!= lag("fp", 1).over(w)).cast("long"))
        .groupBy("doc_id").agg(sum(col("chg")).as("n_changes"))
        .groupBy("n_changes")
        .agg(count(lit(1)).as("n_media"), sum(col("doc_id")).as("id_sum"))
        .orderBy("n_changes")
    },
    Some("""WITH v AS (SELECT doc_id,
          CAST(len(list_filter(range(1, 8), f ->
            (doc_id % 7 * 31 + ((f * (doc_id % 3 + 1)) // 3) * 17) % 251
            <> (doc_id % 7 * 31 + (((f - 1) * (doc_id % 3 + 1)) // 3) * 17) % 251))
          AS BIGINT) AS n_changes
        FROM documents)
      SELECT n_changes, COUNT(*) AS n_media, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM v GROUP BY n_changes ORDER BY n_changes"""))

  // q188 — BPE TOKENIZER TRAINING, 3 merge rounds (operators/Bpe.scala):
  // the vocabulary is the ONLY corpus-scale aggregate; each round is a
  // vocab-grain pair count with a deterministic (cnt DESC, pair ASC)
  // argmax and a greedy left-to-right non-overlapping merge fold. Output
  // = top-15 symbols of the final segmentation by weighted frequency —
  // any divergence in ANY round's argmax or fold changes the symbol
  // table, so the 15 rows pin the whole merge sequence. The oracle
  // replays all 3 rounds with list_reduce folds and scalar-subquery
  // argmaxes.
  /** DuckDB replay of the 3-round BPE training loop (vocabulary build,
    * per-round pair-count argmax, greedy list_reduce merge fold). Shared
    * by q188 (emits the symbol table) and q200 (encodes the corpus with
    * it) so both oracles derive the IDENTICAL segmentation `r3`. */
  private val bpeTrainCtes: String = {
    def round(r: Int) = s"""
        p$r AS (SELECT u.pr AS pair, CAST(SUM(freq) AS BIGINT) AS cnt
          FROM r${r - 1}, unnest(list_transform(range(1, len(syms)),
            i -> syms[i] || ' ' || syms[i+1])) AS u(pr)
          GROUP BY u.pr),
        m$r AS (SELECT split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b
          FROM p$r ORDER BY cnt DESC, pair ASC LIMIT 1),
        r$r AS (SELECT w, freq,
            list_reduce(list_transform(syms, s -> [s]),
              (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.a AND x[1] = m.b
                          THEN list_append(acc[1:len(acc)-1], m.a || m.b)
                          ELSE list_append(acc, x[1]) END) AS syms
          FROM r${r - 1}, m$r m)"""
    s"""words AS (SELECT u.w AS w, COUNT(*) AS freq
          FROM (SELECT $toks AS tk FROM documents), unnest(tk) AS u(w) GROUP BY u.w),
        r0 AS (SELECT w, freq,
          list_transform(range(1, len(w) + 1), i -> w[i:i]) AS syms FROM words),
        ${round(1)}, ${round(2)}, ${round(3)}"""
  }

  private val q188 = Q(
    "q188_bpe_train",
    (s, dir) => {
      val words = tbl(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
      val (seg, _) = graft.operators.Bpe.train(words, "w", "freq", k = 3)
      seg.select(col("freq"), explode(col("syms")).as("sym"))
        .groupBy("sym").agg(sum(col("freq")).as("cnt"))
        .orderBy(desc("cnt"), asc("sym")).limit(15)
    },
    Some(s"""WITH $bpeTrainCtes
      SELECT sym, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM r3, unnest(syms) AS u(sym)
      GROUP BY sym ORDER BY cnt DESC, sym ASC LIMIT 15"""))

  // q200 — BPE ENCODE: apply the q188-trained segmentation to the whole
  // corpus and report per-source tokenizer-fit stats (subwords/word,
  // chars/subword — the fertility numbers that decide whether a vocab
  // ships). The trained segmentation IS the encoder for in-vocabulary
  // words, so encoding is one corpus-grain word explode joined to the
  // broadcast vocab-grain symbol table — no per-document merge replay.
  // The oracle replays training via the shared q188 CTEs, then does the
  // identical join, so any argmax/fold divergence surfaces here too.
  private val q200 = Q(
    "q200_bpe_encode",
    (s, dir) => {
      val tw = tbl(s, dir, "documents")
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
      val words = tw.groupBy("w").agg(count(lit(1)).as("freq"))
      val (seg, _) = graft.operators.Bpe.train(words, "w", "freq", k = 3)
      tw.join(broadcast(seg.select(col("w"), size(col("syms")).as("ns"))), Seq("w"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_words"),
          sum(col("ns").cast("long")).as("n_subwords"),
          sum(length(col("w")).cast("long")).as("n_chars"))
        .select(col("source"), col("n_words"), col("n_subwords"),
          Det.roundAt(col("n_subwords").cast("double")
            / col("n_words").cast("double"), 6).as("subwords_per_word"),
          Det.roundAt(col("n_chars").cast("double")
            / col("n_subwords").cast("double"), 6).as("chars_per_subword"))
        .orderBy("source")
    },
    Some(s"""WITH $bpeTrainCtes,
        tw AS (SELECT source, u.w AS w
          FROM (SELECT source, $toks AS tk FROM documents), unnest(tk) AS u(w)),
        enc AS (SELECT source, len(r3.syms) AS ns, length(tw.w) AS nc
          FROM tw JOIN r3 ON r3.w = tw.w)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(ns) AS BIGINT) AS n_subwords,
        ${Det.roundAtSql(
          "CAST(SUM(ns) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 6)} AS subwords_per_word,
        ${Det.roundAtSql(
          "CAST(SUM(nc) AS DOUBLE) / CAST(SUM(ns) AS DOUBLE)", 6)} AS chars_per_subword
      FROM enc GROUP BY source ORDER BY source"""))

  // q189 — CALIBRATION METRICS for the quality-vs-dup signal that q137
  // plots as a reliability diagram: expected calibration error (ECE,
  // bin-weighted |confidence − accuracy|), max calibration error (MCE),
  // and the Brier score, over the same 10 equal-width score bins. All
  // three reduce to decimal-exact sums of 6-dp-quantized per-doc /
  // per-bin terms, so the scalars are engine-exact. Scale: one
  // fingerprint groupBy + one doc-grain pass + a 10-row bin aggregate.
  private val q189 = Q(
    "q189_ece_brier",
    (s, dir) => {
      val scored = tbl(s, dir, "documents").select(col("doc_id"),
        TextFns.qualityScore(col("text")).as("q"),
        TextFns.portableHash(TextFns.normText(col("text"))).as("fp"))
      val dupFp = scored.groupBy("fp").agg(count(lit(1)).as("fn"))
        .filter(col("fn") > 1).select("fp")
      val flagged = scored
        .join(dupFp.withColumn("__d", lit(1L)), Seq("fp"), "left")
        .withColumn("y", coalesce(col("__d"), lit(0L)))
        .withColumn("bin", least(floor(col("q") * 10), lit(9.0)).cast("long"))
      val bins = flagged.groupBy("bin").agg(
        count(lit(1)).as("nb"),
        Det.dsum(col("q"), 6).as("sq"),
        sum(col("y")).as("sy"),
        Det.dsum(Det.roundAt((col("q") - col("y")) * (col("q") - col("y")), 6), 6)
          .as("sbrier"))
      val gap = abs(col("sq") / col("nb") - col("sy").cast("double") / col("nb"))
      bins.agg(
          sum(col("nb")).as("n_docs"),
          Det.dsum(Det.roundAt(gap * col("nb"), 6), 6).as("gapsum"),
          max(Det.roundAt(gap, 6)).as("mce"),
          Det.dsum(col("sbrier"), 6).as("briersum"))
        .select(col("n_docs"),
          Det.roundAt(col("gapsum") / col("n_docs"), 6).as("ece"),
          col("mce"),
          Det.roundAt(col("briersum") / col("n_docs"), 6).as("brier"))
    },
    Some(s"""WITH scored AS (SELECT doc_id, $qualityScoreSql AS q,
          ${hSql(norm)} AS fp FROM documents),
        dupfp AS (SELECT fp FROM scored GROUP BY fp HAVING COUNT(*) > 1),
        flagged AS (SELECT q,
            CASE WHEN fp IN (SELECT fp FROM dupfp) THEN 1 ELSE 0 END AS y,
            CAST(least(floor(q * 10), 9.0) AS BIGINT) AS bin
          FROM scored),
        bins AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb,
            CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE) AS sq,
            CAST(SUM(y) AS BIGINT) AS sy,
            CAST(SUM(CAST(${Det.roundAtSql("(q - y) * (q - y)", 6)} AS DECIMAL(28,6)))
              AS DOUBLE) AS sbrier
          FROM flagged GROUP BY bin)
      SELECT CAST(SUM(nb) AS BIGINT) AS n_docs,
        ${Det.roundAtSql(
          s"CAST(SUM(CAST(${Det.roundAtSql(
            "abs(sq / nb - CAST(sy AS DOUBLE) / nb) * nb", 6)} AS DECIMAL(28,6))) AS DOUBLE)" +
          " / SUM(nb)", 6)} AS ece,
        MAX(${Det.roundAtSql("abs(sq / nb - CAST(sy AS DOUBLE) / nb)", 6)}) AS mce,
        ${Det.roundAtSql(
          "CAST(SUM(CAST(sbrier AS DECIMAL(28,6))) AS DOUBLE) / SUM(nb)", 6)} AS brier
      FROM bins"""))

  // q190 — PER-COLUMN SHANNON ENTROPY PROFILE of the categorical columns
  // (lang, source) — the information-content row of a dataset card
  // (q171 reports counts; this reports concentration): H = ln N −
  // (Σ cᵢ·ln cᵢ)/N from INTEGER category counts, plus H/ln(distinct)
  // normalized to [0,1]. One stack() melt → one groupBy at (column,
  // value) grain → one at column grain; per-category terms are
  // 1e-6-rounded before the decimal-exact sum (q138's pattern). At
  // 100 TB both shuffles key on low-cardinality category values —
  // map-side combine does all the work.
  private val q190 = Q(
    "q190_entropy_profile",
    (s, dir) => {
      val melted = tbl(s, dir, "documents")
        .selectExpr("stack(2, 'lang', lang, 'source', source) AS (col_name, val)")
      melted
        .groupBy("col_name", "val").agg(count(lit(1)).as("c"))
        .groupBy("col_name")
        .agg(
          count(lit(1)).as("n_distinct"),
          sum(col("c")).as("n_rows"),
          Det.dsum(Det.roundAt(
            col("c").cast("double") * log(col("c").cast("double")), 6), 6).as("sclnc"))
        .select(col("col_name"), col("n_distinct"), col("n_rows"),
          Det.roundAt(log(col("n_rows").cast("double"))
            - col("sclnc") / col("n_rows").cast("double"), 6).as("entropy"),
          Det.roundAt(when(col("n_distinct") === 1, lit(0.0))
            .otherwise((log(col("n_rows").cast("double"))
              - col("sclnc") / col("n_rows").cast("double"))
              / log(col("n_distinct").cast("double"))), 6).as("norm_entropy"))
        .orderBy("col_name")
    },
    Some(s"""WITH m AS (SELECT 'lang' AS col_name, lang AS val FROM documents
          UNION ALL SELECT 'source', source FROM documents),
        c AS (SELECT col_name, val, CAST(COUNT(*) AS BIGINT) AS c
          FROM m GROUP BY 1, 2),
        a AS (SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n_distinct,
            CAST(SUM(c) AS BIGINT) AS n_rows,
            CAST(SUM(CAST(${Det.roundAtSql(
              "CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))", 6)} AS DECIMAL(28,6))) AS DOUBLE) AS sclnc
          FROM c GROUP BY 1)
      SELECT col_name, n_distinct, n_rows,
        ${Det.roundAtSql(
          "ln(CAST(n_rows AS DOUBLE)) - sclnc / CAST(n_rows AS DOUBLE)", 6)} AS entropy,
        ${Det.roundAtSql(
          "CASE WHEN n_distinct = 1 THEN 0.0 ELSE (ln(CAST(n_rows AS DOUBLE))" +
          " - sclnc / CAST(n_rows AS DOUBLE)) / ln(CAST(n_distinct AS DOUBLE)) END", 6)} AS norm_entropy
      FROM a ORDER BY col_name"""))

  // q193 — BLOCKING-QUALITY EVAL for entity resolution: how good is the
  // cheap (lang, n_chars÷50) blocking key at finding the near-dup pairs
  // the expensive LSH pass (q22's machinery, the ground truth here)
  // certifies? Reports the three standard ER blocking metrics —
  // reduction ratio (1 − candidate/total pairs), pairs completeness
  // (recall of truth pairs co-blocked), pairs quality (precision) —
  // all INTEGER counts until three final divisions. Candidate-pair
  // count comes from Σ n·(n−1)/2 over block SIZES — the pairs are
  // never materialized, so the metric itself is safe even when a
  // blocking key is catastrophically skewed (the exact failure mode
  // this query exists to catch before a fuzzy-join run at 100 TB).
  private val q193 = Q(
    "q193_blocking_eval",
    (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val attrs = docs.select(col("doc_id"), col("lang"),
        floor(col("n_chars") / lit(50)).as("bkt"))
      val nDocs = attrs.agg(count(lit(1)).as("n_docs"))
      val nCand = attrs.groupBy("lang", "bkt").agg(count(lit(1)).as("nb"))
        .agg(sum(expr("(nb * (nb - 1)) div 2")).as("n_cand"))
      val truth = Dedup.minhashLshPairs(docs, "doc_id", "text",
          numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs
        .select("id_a", "id_b")
      val tstats = truth
        .join(attrs.select(col("doc_id").as("id_a"), col("lang").as("la"),
          col("bkt").as("ba")), Seq("id_a"))
        .join(attrs.select(col("doc_id").as("id_b"), col("lang").as("lb"),
          col("bkt").as("bb")), Seq("id_b"))
        .agg(count(lit(1)).as("n_truth"),
          sum(when(col("la") === col("lb") && col("ba") === col("bb"), 1L)
            .otherwise(0L)).as("n_coblocked"))
      nDocs.crossJoin(nCand).crossJoin(tstats)
        .select(col("n_docs"), col("n_cand"), col("n_truth"), col("n_coblocked"),
          Det.roundAt(lit(1.0) - col("n_cand").cast("double")
            / (col("n_docs") * (col("n_docs") - 1) / lit(2)).cast("double"), 6)
            .as("reduction_ratio"),
          Det.roundAt(col("n_coblocked").cast("double")
            / col("n_truth").cast("double"), 6).as("pairs_completeness"),
          Det.roundAt(col("n_coblocked").cast("double")
            / col("n_cand").cast("double"), 6).as("pairs_quality"))
    },
    Some(s"""WITH $minhashCtes,
        pairs AS (SELECT id_a, id_b FROM cand
          WHERE ${jaccardSql("sh_a", "sh_b")} >= 0.5),
        attrs AS (SELECT doc_id, lang,
            CAST(floor(n_chars / 50) AS BIGINT) AS bkt FROM documents),
        nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM attrs),
        ncand AS (SELECT CAST(SUM((nb * (nb - 1)) // 2) AS BIGINT) AS n_cand
          FROM (SELECT lang, bkt, CAST(COUNT(*) AS BIGINT) AS nb
            FROM attrs GROUP BY 1, 2)),
        ts AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
            CAST(SUM(CASE WHEN a.lang = b.lang AND a.bkt = b.bkt
              THEN 1 ELSE 0 END) AS BIGINT) AS n_coblocked
          FROM pairs p
          JOIN attrs a ON a.doc_id = p.id_a
          JOIN attrs b ON b.doc_id = p.id_b)
      SELECT n_docs, n_cand, n_truth, n_coblocked,
        ${Det.roundAtSql(
          "1.0 - CAST(n_cand AS DOUBLE) / CAST(n_docs * (n_docs - 1) // 2 AS DOUBLE)", 6)} AS reduction_ratio,
        ${Det.roundAtSql(
          "CAST(n_coblocked AS DOUBLE) / CAST(n_truth AS DOUBLE)", 6)} AS pairs_completeness,
        ${Det.roundAtSql(
          "CAST(n_coblocked AS DOUBLE) / CAST(n_cand AS DOUBLE)", 6)} AS pairs_quality
      FROM nd CROSS JOIN ncand CROSS JOIN ts"""))

  // q194 — JENSEN-SHANNON DIVERGENCE between two sources' token
  // distributions — the bounded, symmetric distance the drift family
  // still lacked (PSI q144 needs bins, KS q173 needs an ordered scalar;
  // JSD compares the full unigram distribution and is what corpus-mix
  // monitoring actually tracks). Per-token terms ½·p·ln(p/m) +
  // ½·q·ln(q/m) (m = (p+q)/2; a side absent from a token contributes
  // exactly ½·p·ln 2 via the CASE guard) are computed from INTEGER
  // token counts over broadcast totals, 1e-9-rounded, then summed in
  // exact decimal. One shuffle to token grain; vocabulary-sized, not
  // corpus-sized, from the groupBy on.
  private val q194 = Q(
    "q194_jsd_drift",
    (s, dir) => {
      val tk = tbl(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("tok"))
      val cnt = tk.groupBy("tok").agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("cb"))
      val tot = cnt.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      val p = col("ca").cast("double") / col("na").cast("double")
      val q = col("cb").cast("double") / col("nb").cast("double")
      val m = (p + q) / lit(2.0)
      cnt.crossJoin(broadcast(tot))
        .select(col("na"), col("nb"),
          Det.roundAt(
            when(col("ca") > 0, p * log(p / m) / lit(2.0)).otherwise(lit(0.0))
            + when(col("cb") > 0, q * log(q / m) / lit(2.0)).otherwise(lit(0.0)),
            9).as("term"))
        .groupBy("na", "nb")
        .agg(count(lit(1)).as("n_vocab"),
          Det.roundAt(Det.dsum(col("term"), 9), 6).as("jsd"))
        .select(col("n_vocab"), col("na"), col("nb"), col("jsd"))
    },
    Some(s"""WITH tk AS (SELECT source, u.tok AS tok
          FROM documents, unnest($toks) AS u(tok)
          WHERE source IN ('src0', 'src1')),
        cnt AS (SELECT tok,
            CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
            CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS cb
          FROM tk GROUP BY 1),
        tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
            CAST(SUM(cb) AS BIGINT) AS nb FROM cnt),
        terms AS (SELECT na, nb, ${Det.roundAtSql(
            "CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / na) * ln((CAST(ca AS DOUBLE) / na)" +
            " / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2.0)) / 2.0 ELSE 0.0 END" +
            " + CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / nb) * ln((CAST(cb AS DOUBLE) / nb)" +
            " / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2.0)) / 2.0 ELSE 0.0 END", 9)} AS term
          FROM cnt CROSS JOIN tot)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab, na, nb,
        ${Det.roundAtSql(
          "CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE)", 6)} AS jsd
      FROM terms GROUP BY na, nb"""))

  // q198 — AUDIO RMS / PEAK / CLIPPING over the synthetic WAV payloads'
  // PCM samples (media kind = audio, doc_id % 3 == 1, same dispatch as
  // q31/q122): consecutive byte PAIRS of the payload read as int16-LE
  // samples — the loudness/clipping audit an audio curation pipeline
  // runs before training. The payload is the ASCII text byte stream
  // (Multimodal.synthesizeMedia), so `ascii()` char reads ARE the byte
  // reads in both engines; samples and Σs² stay INTEGER until the final
  // rms/ratio divisions. Sample extraction is a row-local array
  // transform exploded to sample grain — the natural 100 TB shape
  // (decode-map, then one map-side-combinable rollup); clips shorter
  // than one sample are dropped by both engines (length guard, which
  // also keeps Spark's descending-sequence hazard out).
  private val q198 = Q(
    "q198_audio_rms",
    (s, dir) => {
      val clips = tbl(s, dir, "documents")
        .filter(col("doc_id") % 3 === 1 && length(col("text")) >= 2)
      val samples = clips.select(col("source"), col("doc_id"),
          explode(expr(
            """transform(sequence(1, cast(floor(length(text) / 2) as int)),
               i -> cast(ascii(substring(text, 2*i - 1, 1))
                    + 256 * ascii(substring(text, 2*i, 1)) as bigint))"""))
            .as("smp"))
      samples.groupBy("source")
        .agg(
          countDistinct(col("doc_id")).as("n_clips"),
          count(lit(1)).as("n_samples"),
          max(col("smp")).as("peak"),
          sum(col("smp") * col("smp")).as("sum_sq"),
          sum(when(col("smp") >= 30000L, 1L).otherwise(0L)).as("n_clip"))
        .select(col("source"), col("n_clips"), col("n_samples"), col("peak"),
          Det.roundAt(sqrt(col("sum_sq").cast("double")
            / col("n_samples").cast("double")), 6).as("rms"),
          Det.roundAt(col("n_clip").cast("double")
            / col("n_samples").cast("double"), 6).as("clip_ratio"))
        .orderBy("source")
    },
    Some(s"""WITH a AS (SELECT source, doc_id, text FROM documents
          WHERE doc_id % 3 = 1 AND length(text) >= 2),
        smp AS (SELECT source, doc_id, u.smp AS smp
          FROM a, unnest(list_transform(
            range(1, CAST(floor(length(text) / 2) AS BIGINT) + 1),
            i -> CAST(ascii(substr(text, CAST(2*i - 1 AS INT), 1))
                 + 256 * ascii(substr(text, CAST(2*i AS INT), 1)) AS BIGINT))) AS u(smp)),
        g AS (SELECT source, COUNT(DISTINCT doc_id) AS n_clips,
            CAST(COUNT(*) AS BIGINT) AS n_samples,
            CAST(MAX(smp) AS BIGINT) AS peak,
            CAST(SUM(smp * smp) AS BIGINT) AS sum_sq,
            CAST(SUM(CASE WHEN smp >= 30000 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip
          FROM smp GROUP BY 1)
      SELECT source, n_clips, n_samples, peak,
        ${Det.roundAtSql(
          "sqrt(CAST(sum_sq AS DOUBLE) / CAST(n_samples AS DOUBLE))", 6)} AS rms,
        ${Det.roundAtSql(
          "CAST(n_clip AS DOUBLE) / CAST(n_samples AS DOUBLE)", 6)} AS clip_ratio
      FROM g ORDER BY source"""))

  // q206 — GREEDY MAX-COVERAGE source selection (the (1−1/e) submodular
  // greedy): which 3 sources together cover the most distinct word
  // 3-shingles (the same n-gram universe the dedup family keys on)? The
  // diversity-driven pick of a corpus mix build — DSIR (q161) weights by
  // target likeness, temperature (q160) flattens, this one maximizes
  // coverage. Corpus-scale work is ONE distinct (source, token)
  // membership shuffle; each round is an anti-join + count with a 1-row
  // argmax collect (the k-means/BPE coordination shape, k bounded). The
  // oracle unrolls all 3 rounds; early exhaustion (a round with zero
  // marginal gain) drops the row on BOTH sides.
  private val q206 = Q(
    "q206_greedy_source_cover",
    (s, dir) => {
      import s.implicits._
      val st = tbl(s, dir, "documents")
        .select(col("source"),
          explode(TextFns.wordShingles(col("text"), 3)).as("tok"))
      graft.operators.Cover.greedyCover(st, "source", "tok", 3)
        .map(p => (p.round.toLong, p.set, p.gain, p.coveredTotal))
        .toDF("round", "source", "marginal_gain", "covered_total")
        .orderBy("round")
    },
    Some(s"""WITH st AS (SELECT DISTINCT source AS s, u.tok AS e
          FROM documents, unnest(${wordShinglesSql(3)}) AS u(tok)),
        m1 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS g FROM st GROUP BY 1),
        p1 AS (SELECT s, g FROM m1 WHERE g > 0 ORDER BY g DESC, s LIMIT 1),
        c1 AS (SELECT DISTINCT e FROM st JOIN p1 USING (s)),
        m2 AS (SELECT st.s, CAST(COUNT(*) AS BIGINT) AS g FROM st
          WHERE st.s NOT IN (SELECT s FROM p1)
            AND st.e NOT IN (SELECT e FROM c1) GROUP BY 1),
        p2 AS (SELECT s, g FROM m2 WHERE g > 0 ORDER BY g DESC, s LIMIT 1),
        c2 AS (SELECT e FROM c1 UNION
          SELECT e FROM st JOIN p2 USING (s)),
        m3 AS (SELECT st.s, CAST(COUNT(*) AS BIGINT) AS g FROM st
          WHERE st.s NOT IN (SELECT s FROM p1 UNION ALL SELECT s FROM p2)
            AND st.e NOT IN (SELECT e FROM c2) GROUP BY 1),
        p3 AS (SELECT s, g FROM m3 WHERE g > 0 ORDER BY g DESC, s LIMIT 1),
        c3 AS (SELECT e FROM c2 UNION
          SELECT e FROM st JOIN p3 USING (s))
      SELECT CAST(1 AS BIGINT) AS round, s AS source, g AS marginal_gain,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM c1) AS covered_total FROM p1
      UNION ALL SELECT 2, s, g,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM c2) FROM p2
      UNION ALL SELECT 3, s, g,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM c3) FROM p3
      ORDER BY round"""))

  // q219 — INTERPOLATED KNESER-NEY bigram probabilities (the n-gram-LM
  // estimator that absolute discounting + continuation counts make
  // robust to burstiness — "san francisco" vs bare "francisco"):
  // P(w₂|w₁) = (max(c−d,0) + d·N₁₊(w₁,·)·N₁₊(·,w₂)/D) / c(w₁·), d=0.75.
  // SINGLETON BIGRAMS ARE PRUNED (c ≥ 2, standard KN count-thresholding;
  // the threshold is replicated in the oracle) BEFORE the continuation
  // counts: at 100 TB the bigram type table is dominated by its singleton
  // tail (Zipf), so the prune bounds every downstream vocab-grain
  // relation by the head of the curve. Every input is an integer count
  // off ONE checkpointed pruned bigram-count relation (type counts,
  // left/right continuation fan-outs, the global distinct-bigram total
  // D); the arithmetic tree is mirrored token-for-token in SQL so the
  // doubles agree bit-for-bit. Scale: everything after the first groupBy
  // is vocab-grain; the top-20 is a TakeOrdered, never a global sort of
  // the corpus.
  private val q219 = Q(
    "q219_kneser_ney",
    (s, dir) => {
      val t = TextFns.tokens(col("text"))
      val pairs = tbl(s, dir, "documents")
        .select(t.as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val cBg = graft.operators.Ckpt.local(
        pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2))
      val left = cBg.groupBy("w1")
        .agg(sum(col("c")).as("cw1"), count(lit(1)).as("nf"))
      val right = cBg.groupBy("w2").agg(count(lit(1)).as("nb"))
      val total = cBg.agg(count(lit(1)).as("dd"))
      cBg.join(left, "w1").join(right, "w2")
        .crossJoin(broadcast(total))
        .withColumn("pkn", Det.roundAt(
          (greatest(col("c").cast("double") - lit(0.75), lit(0.0))
            + lit(0.75) * col("nf") * col("nb") / col("dd"))
            / col("cw1"), 6))
        .orderBy(desc("c"), asc("w1"), asc("w2"))
        .limit(20)
        .select(concat(col("w1"), lit(" "), col("w2")).as("bigram"),
          col("c"), col("pkn"))
    },
    Some(s"""WITH d AS (SELECT $toks AS toks FROM documents),
        bg AS (SELECT u.p.w1 AS w1, u.p.w2 AS w2
          FROM d, unnest(list_transform(range(1, len(toks)),
            i -> {'w1': toks[i], 'w2': toks[i+1]})) AS u(p)
          WHERE len(toks) >= 2),
        cbg AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2
          HAVING COUNT(*) >= 2),
        lft AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cw1, COUNT(*) AS nf
          FROM cbg GROUP BY w1),
        rgt AS (SELECT w2, COUNT(*) AS nb FROM cbg GROUP BY w2),
        tot AS (SELECT COUNT(*) AS dd FROM cbg)
      SELECT w1 || ' ' || w2 AS bigram, c,
        ${Det.roundAtSql(
          "(GREATEST(CAST(c AS DOUBLE) - 0.75, 0.0) + 0.75 * nf * nb / dd) / cw1",
          6)} AS pkn
      FROM cbg JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN tot
      ORDER BY c DESC, w1 ASC, w2 ASC LIMIT 20"""))

  // q224 — FEATURE-HASHING COLLISION AUDIT (the hashing-trick
  // vectorizer's quality dial): for each candidate dimensionality D,
  // how much of the vocabulary survives `hash(token) mod D`? Reports
  // distinct vocab, buckets used, collision fraction (types sharing a
  // bucket) and the hottest bucket's type load. Vocab-grain throughout —
  // the corpus contributes one groupBy, then everything is |V| rows.
  private val q224 = Q(
    "q224_feature_hash",
    (s, dir) => {
      val dims = Seq(1024L, 16384L)
      val vocab = graft.operators.Ckpt.local(
        tbl(s, dir, "documents")
          .select(explode(TextFns.tokens(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("cnt")))
      val perD = dims.map { d =>
        vocab
          .withColumn("bucket", pmod(TextFns.portableHash(col("token")), lit(d)))
          .groupBy("bucket").agg(count(lit(1)).as("types"))
          .agg(lit(d).as("dim"), sum(col("types")).as("n_vocab"),
            count(lit(1)).as("n_buckets_used"),
            max(col("types")).as("max_bucket_types"))
      }
      perD.reduce(_.unionByName(_))
        .withColumn("collision_frac", Det.roundAt(
          (col("n_vocab") - col("n_buckets_used")).cast("double")
            / col("n_vocab").cast("double"), 6))
        .select("dim", "n_vocab", "n_buckets_used", "max_bucket_types",
          "collision_frac")
        .orderBy("dim")
    },
    Some {
      val h = graft.functions.TextFns.portableHashSql("token")
      def one(d: Long) =
        s"""SELECT $d AS dim, CAST(SUM(types) AS BIGINT) AS n_vocab,
            COUNT(*) AS n_buckets_used,
            CAST(MAX(types) AS BIGINT) AS max_bucket_types
          FROM (SELECT $h % $d AS bucket, COUNT(*) AS types
            FROM vocab GROUP BY 1) z"""
      s"""WITH vocab AS (SELECT u.token AS token, COUNT(*) AS cnt
          FROM (SELECT $toks AS tk FROM documents) d, unnest(tk) AS u(token)
          GROUP BY 1),
        per AS (${one(1024L)} UNION ALL ${one(16384L)})
      SELECT dim, n_vocab, n_buckets_used, max_bucket_types,
        ${Det.roundAtSql(
          "CAST(n_vocab - n_buckets_used AS DOUBLE) / CAST(n_vocab AS DOUBLE)", 6)}
          AS collision_frac
      FROM per ORDER BY dim"""
    })

  // q232 — PADDING-WASTE AUDIT for length-bucketed batching (the
  // training-throughput dial q75/q82's packers optimize away): each doc
  // lands in the smallest length bucket ≥ its token count (ladder sized
  // to this corpus' 10–99-token docs; clamp 96, overflow truncated);
  // waste = padded slots that
  // carry no tokens. One token-count pass, bucket-grain aggregates —
  // the report that says whether bucketing (vs q82's packing) is
  // leaving GPU-hours on the table.
  private val q232 = Q(
    "q232_padding_waste",
    (s, dir) => {
      val n = size(TextFns.tokens(col("text"))).cast("long")
      val bucket = when(n <= 16L, 16L).when(n <= 32L, 32L)
        .when(n <= 64L, 64L).when(n <= 80L, 80L).otherwise(96L)
      tbl(s, dir, "documents")
        .select(n.as("nt"), bucket.as("bucket"),
          least(n, lit(96L)).as("kept"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("total_tokens"),
          sum(col("kept")).as("kept_tokens"),
          sum(col("nt") - col("kept")).as("truncated_tokens"))
        .withColumn("padded_slots", col("bucket") * col("n_docs"))
        .withColumn("waste_frac", Det.roundAt(
          (col("padded_slots") - col("kept_tokens")).cast("double")
            / col("padded_slots").cast("double"), 6))
        .select("bucket", "n_docs", "total_tokens", "kept_tokens",
          "truncated_tokens", "padded_slots", "waste_frac")
        .orderBy("bucket")
    },
    Some(s"""WITH d AS (SELECT len($toks) AS nt FROM documents),
        b AS (SELECT nt,
            CASE WHEN nt <= 16 THEN 16 WHEN nt <= 32 THEN 32
              WHEN nt <= 64 THEN 64 WHEN nt <= 80 THEN 80
              ELSE 96 END AS bucket,
            LEAST(nt, 96) AS kept FROM d)
      SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
        CAST(SUM(nt) AS BIGINT) AS total_tokens,
        CAST(SUM(kept) AS BIGINT) AS kept_tokens,
        CAST(SUM(nt - kept) AS BIGINT) AS truncated_tokens,
        CAST(bucket * COUNT(*) AS BIGINT) AS padded_slots,
        ${Det.roundAtSql(
          "CAST(bucket * COUNT(*) - SUM(kept) AS DOUBLE) / CAST(bucket * COUNT(*) AS DOUBLE)",
          6)} AS waste_frac
      FROM b GROUP BY bucket ORDER BY bucket"""))

  // q281 — INTRA-DOC REPETITION FILTERS (the Gopher rule family, Rae et
  // al. 2021 arXiv:2112.11446 Table A1, adapted to token occurrences):
  // top-2-gram fraction (most frequent bigram's share of all bigram
  // occurrences) and duplicate-3-gram fraction (share of trigram
  // occurrences that are repeats) per doc, summarized as a corpus
  // pass-rate under top2 ≤ 0.20 ∧ dup3 ≤ 0.18. Everything is ROW-LOCAL
  // higher-order-function work over the materialized token array — the
  // top-2-gram share folds over the SORTED bigram array (longest equal
  // run = max multiplicity; the array is a real column, so lambda
  // element access is O(1), never a re-sort per element) — and the only
  // shuffle is the final one-row summary agg. Per-doc fractions floor
  // at 6 dp before the decimal-exact means, so both engines agree
  // bitwise. At 100 TB this is the cheapest quality gate in the funnel:
  // one map pass, no joins, trivially fused by codegen.
  private val q281 = Q(
    "q281_repetition_filters",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      def gram(n: Int) = transform(
        sequence(lit(1), size(col("tk")) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o =>
          element_at(col("tk"), (i + o).cast("int"))): _*))
      def maxRun(sorted: Column) = aggregate(
        sequence(lit(2), size(sorted)),
        struct(lit(1L).as("run"), lit(1L).as("mx")),
        (acc, i) => {
          val r = when(element_at(sorted, i.cast("int"))
              === element_at(sorted, i.cast("int") - 1),
            acc.getField("run") + lit(1L)).otherwise(lit(1L))
          struct(r.as("run"), greatest(acc.getField("mx"), r).as("mx"))
        }).getField("mx")
      val per = tbl(s, dir, "documents")
        .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 3)
        .withColumn("g2s", array_sort(gram(2)))
        .withColumn("g3", gram(3))
        .select(col("doc_id"),
          Det.roundAt(maxRun(col("g2s")).cast("double")
            / size(col("g2s")).cast("double"), 6).as("top2"),
          Det.roundAt((size(col("g3")) - size(array_distinct(col("g3"))))
            .cast("double") / size(col("g3")).cast("double"), 6).as("dup3"))
      val pass = col("top2") <= lit(0.20) && col("dup3") <= lit(0.18)
      per.agg(
          count(lit(1)).as("nd"),
          sum(when(pass, 1L).otherwise(0L)).as("np"),
          sum(col("top2").cast(DecimalType(28, 6))).as("st"),
          sum(col("dup3").cast(DecimalType(28, 6))).as("sd"))
        .select(col("nd").as("n_docs"), col("np").as("n_pass"),
          Det.roundAt(col("np").cast("double") / col("nd").cast("double"), 6)
            .as("pass_rate"),
          Det.roundAt(col("st").cast("double") / col("nd").cast("double"), 6)
            .as("mean_top2_frac"),
          Det.roundAt(col("sd").cast("double") / col("nd").cast("double"), 6)
            .as("mean_dup3_frac"))
    },
    Some(s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
        f AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 3),
        g2 AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS g
          FROM f, unnest(range(1, len(tk))) AS r(i)),
        c2 AS (SELECT doc_id, ${Det.roundAtSql(
          "CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)", 6)} AS top2
          FROM (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2)
          GROUP BY doc_id),
        g3 AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS g
          FROM f, unnest(range(1, len(tk) - 1)) AS r(i)),
        c3 AS (SELECT doc_id, ${Det.roundAtSql(
          "CAST(COUNT(*) - COUNT(DISTINCT g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)",
          6)} AS dup3
          FROM g3 GROUP BY doc_id),
        per AS (SELECT c2.doc_id, top2, dup3
          FROM c2 JOIN c3 ON c2.doc_id = c3.doc_id)
      SELECT COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN top2 <= 0.20 AND dup3 <= 0.18 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_pass,
        ${Det.roundAtSql(
          "CAST(SUM(CASE WHEN top2 <= 0.20 AND dup3 <= 0.18 THEN 1 ELSE 0 END)" +
          " AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 6)} AS pass_rate,
        ${Det.roundAtSql(
          "CAST(SUM(CAST(top2 AS DECIMAL(28,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)",
          6)} AS mean_top2_frac,
        ${Det.roundAtSql(
          "CAST(SUM(CAST(dup3 AS DECIMAL(28,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)",
          6)} AS mean_dup3_frac
      FROM per"""))

  // q282 — TOKENIZER FERTILITY BY LANGUAGE (tokens per 100 characters —
  // the budget dial multilingual-corpus planning reads before fixing a
  // language mix: a language that tokenizes fat consumes its token
  // budget in fewer documents). Whitespace tokens over the normalized
  // text against the raw n_chars column; per-language mean and sample
  // sd (ddof=1) from decimal-exact sums (the q08 describe() machinery,
  // per group). One map pass + a language-grain aggregate.
  private val q282 = Q(
    "q282_token_fertility",
    (s, dir) => {
      val per = tbl(s, dir, "documents")
        .select(col("lang"),
          Det.roundAt(size(TextFns.tokens(col("text"))).cast("double")
            * lit(100.0) / col("n_chars").cast("double"), 6).as("t100"))
      per.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          Det.roundAt(Det.davg(col("t100"), 6), 6).as("mean_tok_per_100c"),
          Det.roundAt(Det.dstddev(col("t100"), 6), 6).as("sd_tok_per_100c"))
        .orderBy("lang")
    },
    Some(s"""WITH per AS (SELECT lang, ${Det.roundAtSql(
          s"CAST(len($toks) AS DOUBLE) * 100.0 / CAST(n_chars AS DOUBLE)", 6)}
          AS t100 FROM documents)
      SELECT lang, COUNT(*) AS n_docs,
        ${Det.roundAtSql(
          "CAST(SUM(CAST(t100 AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)", 6)}
          AS mean_tok_per_100c,
        ${Det.roundAtSql(
          "sqrt((CAST(SUM(CAST(t100 * t100 AS DECIMAL(28,12))) AS DOUBLE)" +
          " - CAST(SUM(CAST(t100 AS DECIMAL(28,6))) AS DOUBLE)" +
          " * CAST(SUM(CAST(t100 AS DECIMAL(28,6))) AS DOUBLE)" +
          " / CAST(COUNT(*) AS DOUBLE)) / (CAST(COUNT(*) AS DOUBLE) - 1.0))", 6)}
          AS sd_tok_per_100c
      FROM per GROUP BY lang ORDER BY lang"""))

  // q284 — UNIMAX LANGUAGE BUDGET (waterfill allocation with per-language
  // epoch caps, after Chung et al. 2023, "UniMax: Fairer and More
  // Effective Language Sampling"): given each language's available token
  // count and a total training budget (here 90% of the corpus, 1-epoch
  // caps), give every language an equal share of the remaining budget
  // unless its cap binds — the standard waterfill, computed CLOSED-FORM:
  // sort languages ascending by capacity, prefix-sum, and a row is
  // "capped" iff avail·(langs remaining) < budget − prefix — an
  // all-integer comparison, so the capped set is engine-exact. The only
  // windows run over the LANGUAGE-grain aggregate (a constant ≤5 rows at
  // any corpus size — same class as the props-key domain in the census);
  // the data-sized work is one tokenize+sum pass. The budget uses integer
  // division ((total·9) div 10 / DuckDB //) because double→bigint casts
  // round differently across engines.
  private val q284 = Q(
    "q284_unimax_budget",
    (s, dir) => {
      val per = tbl(s, dir, "documents")
        .select(col("lang"), size(TextFns.tokens(col("text"))).cast("long").as("nt"))
        .groupBy("lang").agg(sum(col("nt")).as("avail"))
      val tot = per.agg(sum(col("avail")).as("total"),
        count(lit(1)).as("nl"))
      val w = Window.orderBy(col("avail"), col("lang")) // ≤5 langs: constant
      val d1 = per.crossJoin(broadcast(tot))
        .withColumn("budget", expr("(total * 9) div 10"))
        .withColumn("i", row_number().over(w))
        .withColumn("pprev", coalesce(sum(col("avail"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("capped",
          col("avail") * (col("nl") - col("i") + 1) < col("budget") - col("pprev"))
      // the first UNcapped row fixes the equal share for every uncapped lang
      val k = d1.filter(!col("capped"))
        .agg(min(struct(col("i"), col("budget"), col("pprev"), col("nl"))).as("s"))
        .select(col("s.budget").as("kb"), col("s.pprev").as("kp"),
          (col("s.nl") - col("s.i") + 1).as("km"))
      val share = (col("kb") - col("kp")).cast("double") / col("km").cast("double")
      d1.crossJoin(broadcast(k))
        .select(col("lang"), col("avail").as("avail_tokens"),
          Det.roundAt(when(col("capped"), col("avail").cast("double"))
            .otherwise(share), 6).as("alloc_tokens"),
          Det.roundAt(when(col("capped"), lit(1.0))
            .otherwise(share / col("avail").cast("double")), 6).as("epochs"),
          col("capped").cast("long").as("capped"))
        .orderBy("lang")
    },
    Some(s"""WITH t AS (SELECT lang, len($toks) AS nt FROM documents),
        per AS (SELECT lang, CAST(SUM(nt) AS BIGINT) AS avail FROM t GROUP BY lang),
        tot AS (SELECT CAST(SUM(avail) AS BIGINT) AS total, COUNT(*) AS nl FROM per),
        d1 AS (SELECT lang, avail, nl, (total * 9) // 10 AS budget,
            ROW_NUMBER() OVER (ORDER BY avail, lang) AS i,
            COALESCE(SUM(avail) OVER (ORDER BY avail, lang
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pprev
          FROM per, tot),
        d2 AS (SELECT *, (avail * (nl - i + 1) < budget - pprev) AS capped FROM d1),
        k AS (SELECT budget AS kb, pprev AS kp, nl - i + 1 AS km
          FROM d2 WHERE NOT capped ORDER BY i LIMIT 1)
      SELECT lang, avail AS avail_tokens,
        ${Det.roundAtSql(
          "CASE WHEN capped THEN CAST(avail AS DOUBLE) " +
          "ELSE CAST(kb - kp AS DOUBLE) / CAST(km AS DOUBLE) END", 6)} AS alloc_tokens,
        ${Det.roundAtSql(
          "CASE WHEN capped THEN 1.0 " +
          "ELSE CAST(kb - kp AS DOUBLE) / CAST(km AS DOUBLE) / CAST(avail AS DOUBLE) END",
          6)} AS epochs,
        CAST(capped AS BIGINT) AS capped
      FROM d2, k ORDER BY lang"""))

  // q285 — 8-GRAM EVAL DECONTAMINATION RATE (the GPT-3/PaLM-style n-gram
  // overlap check, a finer instrument than q96's exact-content
  // contamination: an eval doc counts as contaminated if ANY of its
  // 8-grams appears anywhere in the train split). Grams are hashed to
  // portable 60-bit keys before the join, so the shuffle carries longs,
  // not strings, and both engines derive identical candidates (identical
  // hash → identical result even at a collision). Plan: one gram-grain
  // distinct per side + one semi join — linear in total gram count; the
  // train side dedups BEFORE the join so planted dups never multiply
  // probe rows. At 100 TB the train-gram side would become a bloom/bucket
  // pre-filter, same shape as q79.
  private val q285 = Q(
    "q285_ngram_decontam",
    (s, dir) => {
      val split = pmod(TextFns.portableHash(col("doc_id").cast("string")), lit(100L))
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), (split < 10).as("is_eval"),
          TextFns.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 8)
      def gram8 = transform(sequence(lit(1), size(col("tk")) - 7),
        i => concat_ws(" ", (0 until 8).map(o =>
          element_at(col("tk"), (i + o).cast("int"))): _*))
      val g = d.select(col("doc_id"), col("is_eval"),
        explode(array_distinct(gram8)).as("gr"))
        .select(col("doc_id"), col("is_eval"), TextFns.portableHash(col("gr")).as("hg"))
      val trainG = g.filter(!col("is_eval")).select(col("hg")).distinct()
      val contam = g.filter(col("is_eval"))
        .join(trainG, Seq("hg"), "left_semi")
        .select(col("doc_id")).distinct()
      val nEval = d.filter(col("is_eval")).agg(count(lit(1)).as("n_eval"))
      val nGrams = trainG.agg(count(lit(1)).as("n_train_grams"))
      contam.agg(count(lit(1)).as("n_contaminated"))
        .crossJoin(broadcast(nEval)).crossJoin(broadcast(nGrams))
        .select(col("n_eval"), col("n_contaminated"),
          Det.roundAt(col("n_contaminated").cast("double")
            / col("n_eval").cast("double"), 6).as("contam_rate"),
          col("n_train_grams"))
    },
    Some(s"""WITH t AS (SELECT doc_id,
          ${TextFns.portableHashSql("CAST(doc_id AS VARCHAR)")} % 100 < 10 AS is_eval,
          $toks AS tk FROM documents),
        f AS (SELECT * FROM t WHERE len(tk) >= 8),
        g AS (SELECT doc_id, is_eval, ${hSql("gr")} AS hg FROM (
          SELECT doc_id, is_eval,
            unnest(list_distinct(list_transform(range(1, len(tk) - 6),
              i -> array_to_string(tk[i:i + 7], ' ')))) AS gr
          FROM f)),
        tr AS (SELECT DISTINCT hg FROM g WHERE NOT is_eval),
        ev AS (SELECT DISTINCT doc_id FROM g
          WHERE is_eval AND hg IN (SELECT hg FROM tr))
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM f WHERE is_eval) AS n_eval,
        CAST(COUNT(*) AS BIGINT) AS n_contaminated,
        ${Det.roundAtSql(
          "CAST(COUNT(*) AS DOUBLE) / CAST((SELECT COUNT(*) FROM f WHERE is_eval) AS DOUBLE)",
          6)} AS contam_rate,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM tr) AS n_train_grams
      FROM ev"""))

  // q286 — FILTER-CASCADE ABLATION MATRIX: for each quality gate in a
  // 4-gate cascade (token-length band, language, duplicate-3-gram
  // repetition, stopword floor), how many docs fail it, how many fail
  // ONLY it (its unique kill set), and what the pass rate would be with
  // that gate removed — the table a curation team reads before deciding
  // which gate to tune or drop. ONE map pass computes all four per-doc
  // flags (no joins — the gates fuse into one codegen'd projection),
  // one 1-row aggregate collects every count, and the 5-row output
  // (4 gates + the '_cascade' summary) unpivots from that row. Scales as
  // a single scan at any corpus size.
  private val q286 = Q(
    "q286_filter_ablation",
    (s, dir) => {
      def gram3 = transform(sequence(lit(1), size(col("tk")) - 2),
        i => concat_ws(" ", element_at(col("tk"), i.cast("int")),
          element_at(col("tk"), (i + 1).cast("int")),
          element_at(col("tk"), (i + 2).cast("int"))))
      val flags = tbl(s, dir, "documents")
        .select(col("lang"), TextFns.tokens(col("text")).as("tk"))
        .withColumn("ntok", size(col("tk")))
        .withColumn("g3", gram3)
        .select(
          (!(col("ntok") >= 20 && col("ntok") <= 95)).as("f_len"),
          (col("lang") =!= "en").as("f_lang"),
          (Det.roundAt((size(col("g3")) - size(array_distinct(col("g3"))))
            .cast("double") / size(col("g3")).cast("double"), 6) > 0.18).as("f_rep"),
          (Det.roundAt(size(filter(col("tk"), t => t === "the" || t === "a"))
            .cast("double") / col("ntok").cast("double"), 6) < 0.02).as("f_stop"))
      def cnt(c: Column) = sum(c.cast("long"))
      val agg = flags.agg(
        count(lit(1)).as("n"),
        cnt(col("f_len")).as("fl"), cnt(col("f_lang")).as("fg"),
        cnt(col("f_rep")).as("fr"), cnt(col("f_stop")).as("fs"),
        cnt(col("f_len") && !col("f_lang") && !col("f_rep") && !col("f_stop")).as("flo"),
        cnt(col("f_lang") && !col("f_len") && !col("f_rep") && !col("f_stop")).as("fgo"),
        cnt(col("f_rep") && !col("f_len") && !col("f_lang") && !col("f_stop")).as("fro"),
        cnt(col("f_stop") && !col("f_len") && !col("f_lang") && !col("f_rep")).as("fso"),
        cnt(!col("f_lang") && !col("f_rep") && !col("f_stop")).as("pwl"),
        cnt(!col("f_len") && !col("f_rep") && !col("f_stop")).as("pwg"),
        cnt(!col("f_len") && !col("f_lang") && !col("f_stop")).as("pwr"),
        cnt(!col("f_len") && !col("f_lang") && !col("f_rep")).as("pws"),
        cnt(col("f_len") || col("f_lang") || col("f_rep") || col("f_stop")).as("fany"),
        cnt(!col("f_len") && !col("f_lang") && !col("f_rep") && !col("f_stop")).as("pall"))
      agg.select(col("n"), expr(
          """stack(5,
            'len', fl, flo, pwl,
            'lang', fg, fgo, pwg,
            'repetition', fr, fro, pwr,
            'stopword', fs, fso, pws,
            '_cascade', fany, flo + fgo + fro + fso, pall)
            AS (gate, n_fail, n_fail_only, n_pass_wo)"""))
        .select(col("gate"), col("n_fail"),
          Det.roundAt(col("n_fail").cast("double") / col("n").cast("double"), 6)
            .as("fail_rate"),
          col("n_fail_only"),
          Det.roundAt(col("n_pass_wo").cast("double") / col("n").cast("double"), 6)
            .as("pass_rate_without"))
        .orderBy("gate")
    },
    Some(s"""WITH t AS (SELECT lang, $toks AS tk FROM documents),
        f AS (SELECT len(tk) AS ntok,
            NOT (len(tk) BETWEEN 20 AND 95) AS f_len,
            lang <> 'en' AS f_lang,
            ${Det.roundAtSql(
              "CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE)",
              6)} > 0.18 AS f_rep,
            ${Det.roundAtSql(
              "CAST(len(list_filter(tk, x -> x = 'the' OR x = 'a')) AS DOUBLE)" +
              " / CAST(len(tk) AS DOUBLE)", 6)} < 0.02 AS f_stop
          FROM (SELECT lang, tk, list_transform(range(1, len(tk) - 1),
              i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]) AS g3 FROM t)),
        a AS (SELECT COUNT(*) AS n,
            SUM(CASE WHEN f_len THEN 1 ELSE 0 END) AS fl,
            SUM(CASE WHEN f_lang THEN 1 ELSE 0 END) AS fg,
            SUM(CASE WHEN f_rep THEN 1 ELSE 0 END) AS fr,
            SUM(CASE WHEN f_stop THEN 1 ELSE 0 END) AS fs,
            SUM(CASE WHEN f_len AND NOT f_lang AND NOT f_rep AND NOT f_stop THEN 1 ELSE 0 END) AS flo,
            SUM(CASE WHEN f_lang AND NOT f_len AND NOT f_rep AND NOT f_stop THEN 1 ELSE 0 END) AS fgo,
            SUM(CASE WHEN f_rep AND NOT f_len AND NOT f_lang AND NOT f_stop THEN 1 ELSE 0 END) AS fro,
            SUM(CASE WHEN f_stop AND NOT f_len AND NOT f_lang AND NOT f_rep THEN 1 ELSE 0 END) AS fso,
            SUM(CASE WHEN NOT f_lang AND NOT f_rep AND NOT f_stop THEN 1 ELSE 0 END) AS pwl,
            SUM(CASE WHEN NOT f_len AND NOT f_rep AND NOT f_stop THEN 1 ELSE 0 END) AS pwg,
            SUM(CASE WHEN NOT f_len AND NOT f_lang AND NOT f_stop THEN 1 ELSE 0 END) AS pwr,
            SUM(CASE WHEN NOT f_len AND NOT f_lang AND NOT f_rep THEN 1 ELSE 0 END) AS pws,
            SUM(CASE WHEN f_len OR f_lang OR f_rep OR f_stop THEN 1 ELSE 0 END) AS fany,
            SUM(CASE WHEN NOT f_len AND NOT f_lang AND NOT f_rep AND NOT f_stop THEN 1 ELSE 0 END) AS pall
          FROM f),
        u AS (
          SELECT 'len' AS gate, fl AS n_fail, flo AS n_fail_only, pwl AS n_pass_wo, n FROM a
          UNION ALL SELECT 'lang', fg, fgo, pwg, n FROM a
          UNION ALL SELECT 'repetition', fr, fro, pwr, n FROM a
          UNION ALL SELECT 'stopword', fs, fso, pws, n FROM a
          UNION ALL SELECT '_cascade', fany, flo + fgo + fro + fso, pall, n FROM a)
      SELECT gate, CAST(n_fail AS BIGINT) AS n_fail,
        ${Det.roundAtSql("CAST(n_fail AS DOUBLE) / CAST(n AS DOUBLE)", 6)} AS fail_rate,
        CAST(n_fail_only AS BIGINT) AS n_fail_only,
        ${Det.roundAtSql("CAST(n_pass_wo AS DOUBLE) / CAST(n AS DOUBLE)", 6)} AS pass_rate_without
      FROM u ORDER BY gate"""))

  // q288 — PER-SOURCE NOVELTY CURVE (the diminishing-returns table a
  // data-acquisition team reads: processing sources in a fixed order,
  // how many NEW distinct 8-grams does each one contribute on top of
  // everything before it?). A gram's "first source" is the MIN source
  // name over its occurrences (lexicographic src0 < src1 < src10 < …—
  // identical byte order in both engines), so the whole curve falls out
  // of ONE gram-grain aggregate: no per-prefix reprocessing, no
  // quadratic source×gram join. The cumulative column is a window over
  // the 20-row source-grain aggregate (constant at any corpus size).
  private val q288 = Q(
    "q288_source_novelty",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("source"), TextFns.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 8)
      def gram8 = transform(sequence(lit(1), size(col("tk")) - 7),
        i => concat_ws(" ", (0 until 8).map(o =>
          element_at(col("tk"), (i + o).cast("int"))): _*))
      val g = d.select(col("source"), explode(array_distinct(gram8)).as("gr"))
        .select(col("source"), TextFns.portableHash(col("gr")).as("hg"))
      val perSrc = g.groupBy("source")
        .agg(countDistinct(col("hg")).as("n_distinct_grams"))
      val firstSrc = g.groupBy("hg").agg(min(col("source")).as("source"))
        .groupBy("source").agg(count(lit(1)).as("n_new_grams"))
      val w = Window.orderBy("source") // 20 sources: constant-bounded
      perSrc.join(firstSrc, Seq("source"), "left")
        .withColumn("n_new_grams", coalesce(col("n_new_grams"), lit(0L)))
        .withColumn("cum_distinct_grams", sum(col("n_new_grams")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("source"), col("n_distinct_grams"), col("n_new_grams"),
          col("cum_distinct_grams"),
          Det.roundAt(col("n_new_grams").cast("double")
            / col("n_distinct_grams").cast("double"), 6).as("novelty_rate"))
        .orderBy("source")
    },
    Some(s"""WITH t AS (SELECT source, $toks AS tk FROM documents),
        f AS (SELECT source, tk FROM t WHERE len(tk) >= 8),
        g AS (SELECT source, ${hSql("gr")} AS hg FROM (
          SELECT source, unnest(list_distinct(list_transform(range(1, len(tk) - 6),
            i -> array_to_string(tk[i:i + 7], ' ')))) AS gr
          FROM f)),
        per AS (SELECT source, CAST(COUNT(DISTINCT hg) AS BIGINT) AS n_distinct_grams
          FROM g GROUP BY source),
        fs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new_grams FROM
          (SELECT hg, MIN(source) AS source FROM g GROUP BY hg) GROUP BY source),
        j AS (SELECT per.source, n_distinct_grams,
            COALESCE(n_new_grams, 0) AS n_new_grams
          FROM per LEFT JOIN fs ON per.source = fs.source)
      SELECT source, n_distinct_grams, n_new_grams,
        CAST(SUM(n_new_grams) OVER (ORDER BY source
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_distinct_grams,
        ${Det.roundAtSql(
          "CAST(n_new_grams AS DOUBLE) / CAST(n_distinct_grams AS DOUBLE)", 6)}
          AS novelty_rate
      FROM j ORDER BY source"""))

  // q289 — DEDUP SAVINGS BY METHOD: the one-table comparison of what
  // each dedup policy would keep — no dedup, exact content dedup
  // (min-id survivor per 60-bit fingerprint), and near-dup CLUSTER
  // dedup (min-id survivor per LSH connected component, q150's
  // pipeline) — in docs, tokens, and token-retention vs baseline. The
  // decision table behind "is near-dup dedup worth the extra pass at
  // this corpus's dup rate?". Survivor selection is one fingerprint- /
  // cluster-grain aggregate + an integer-key join back; token counts
  // ride the same scan. All-integer outputs except the 6-dp retention.
  private val q289 = Q(
    "q289_dedup_savings",
    (s, dir) => {
      val base = tbl(s, dir, "documents")
        .select(col("doc_id"), size(TextFns.tokens(col("text"))).cast("long").as("nt"),
          TextFns.portableHash(TextFns.normText(col("text"))).as("fp"))
      // exact: survivor = min doc_id per fingerprint
      val exactLosers = base
        .withColumn("mn", min(col("doc_id")).over(
          Window.partitionBy(col("fp"))))
        .filter(col("doc_id") =!= col("mn"))
      // near-dup: survivor = min member per LSH connected component
      val cl = Dedup.clusters(Dedup.minhashLshPairs(tbl(s, dir, "documents"),
        "doc_id", "text", numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs)
      val nearLosers = cl
        .withColumn("mn", min(col("id")).over(Window.partitionBy(col("cluster"))))
        .filter(col("id") =!= col("mn")).select(col("id").as("doc_id"))
      def stats(df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      val b = stats(base)
      val e = stats(base.join(exactLosers.select("doc_id"), Seq("doc_id"), "left_anti"))
      val n = stats(base.join(nearLosers, Seq("doc_id"), "left_anti"))
      val tot = b.select(col("n_tokens").as("bt"))
      Seq(("baseline", b), ("exact", e), ("neardup_cluster", n))
        .map { case (m, df) => df.withColumn("method", lit(m)) }
        .reduce(_ unionByName _)
        .crossJoin(broadcast(tot))
        .select(col("method"), col("n_docs"), col("n_tokens"),
          Det.roundAt(col("n_tokens").cast("double") / col("bt").cast("double"), 6)
            .as("token_retention"))
        .orderBy("method")
    },
    Some(s"""WITH $minhashCtes, $ccCtes,
        base AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS nt,
            ${hSql(norm)} AS fp FROM documents),
        exl AS (SELECT doc_id FROM (SELECT doc_id,
            MIN(doc_id) OVER (PARTITION BY fp) AS mn FROM base)
          WHERE doc_id <> mn),
        nel AS (SELECT id AS doc_id FROM (SELECT id,
            MIN(id) OVER (PARTITION BY cluster) AS mn FROM cc)
          WHERE id <> mn),
        b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(nt) AS BIGINT) AS n_tokens FROM base),
        e AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(nt) AS BIGINT) AS n_tokens FROM base
          WHERE doc_id NOT IN (SELECT doc_id FROM exl)),
        ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(nt) AS BIGINT) AS n_tokens FROM base
          WHERE doc_id NOT IN (SELECT doc_id FROM nel)),
        u AS (SELECT 'baseline' AS method, n_docs, n_tokens FROM b
          UNION ALL SELECT 'exact', n_docs, n_tokens FROM e
          UNION ALL SELECT 'neardup_cluster', n_docs, n_tokens FROM ne)
      SELECT method, n_docs, n_tokens,
        ${Det.roundAtSql(
          "CAST(n_tokens AS DOUBLE) / CAST((SELECT n_tokens FROM b) AS DOUBLE)", 6)}
          AS token_retention
      FROM u ORDER BY method"""))

  // q290 — QUALITY-SCORE CALIBRATION (reliability diagram): decile-bin
  // the 6-dp quality score and report, per bin, the observed near-dup
  // rate (q158's LSH-pair label) against the bin's mean score — the
  // table that says whether a scorer's confidence means anything before
  // it gates a corpus. Score histogram grain is the integer-scaled
  // score (bounded domain), labels ride the same broadcast dup-id set
  // as q158, and the decile rollup is a 10-row aggregate. Mean scores
  // come from exact integer sums of the scaled score.
  private val q290 = Q(
    "q290_score_calibration",
    (s, dir) => {
      val pairs = Dedup.minhashLshPairs(tbl(s, dir, "documents"), "doc_id", "text",
        numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs
      // one pass over the lazy pair pipeline — see q158's rationale
      val dupIds = Dedup.pairEndpointIds(pairs)
      val scored = tbl(s, dir, "documents")
        .select(col("doc_id"),
          floor(TextFns.qualityScore(col("text")) * lit(1000000.0) + lit(0.5))
            .cast("long").as("q"))
      scored
        .join(broadcast(dupIds), scored("doc_id") === dupIds("id"), "left")
        .withColumn("is_dup", col("id").isNotNull)
        .withColumn("decile", least(expr("q div 100000"), lit(9L)))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("is_dup"), lit(1))).as("n_pos"),
          sum(col("q")).as("sq"))
        .select(col("decile"), col("n_docs"), col("n_pos"),
          Det.roundAt(col("sq").cast("double") / lit(1e6)
            / col("n_docs").cast("double"), 6).as("mean_score"),
          Det.roundAt(col("n_pos").cast("double") / col("n_docs").cast("double"), 6)
            .as("pos_rate"))
        .orderBy("decile")
    },
    Some(s"""WITH $minhashCtes,
      vp AS (SELECT id_a, id_b FROM cand
        WHERE ${jaccardSql("sh_a", "sh_b")} >= 0.5),
      ids AS (SELECT DISTINCT id FROM
        (SELECT id_a AS id FROM vp UNION ALL SELECT id_b FROM vp)),
      scored AS (SELECT doc_id,
          CAST(floor($qualityScoreSql * 1000000.0 + 0.5) AS BIGINT) AS q
        FROM documents),
      lab AS (SELECT q, LEAST(q // 100000, 9) AS decile,
          doc_id IN (SELECT id FROM ids) AS is_dup FROM scored)
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(CASE WHEN is_dup THEN 1 END) AS BIGINT) AS n_pos,
        ${Det.roundAtSql(
          "CAST(SUM(q) AS DOUBLE) / 1e6 / CAST(COUNT(*) AS DOUBLE)", 6)} AS mean_score,
        ${Det.roundAtSql(
          "CAST(COUNT(CASE WHEN is_dup THEN 1 END) AS DOUBLE)" +
          " / CAST(COUNT(*) AS DOUBLE)", 6)} AS pos_rate
      FROM lab GROUP BY decile ORDER BY decile"""))

  // q291 — EMPIRICAL LSH S-CURVE + MISS ESTIMATE: the banding-design
  // audit behind "is 8 bands × 4 rows actually catching what theory
  // promises on THIS corpus?". Candidate pairs (≥1 matching band) are
  // binned by exact Jaccard; each bin reports the observed pair count,
  // mean similarity, mean matching-band count, the closed-form detection
  // probability p = 1-(1-s^4)^8 at the bin's mean similarity, and the
  // inverse-detection (Horvitz-Thompson) estimate of TRUE and MISSED
  // pairs in the bin — the number a dedup owner reads before trusting
  // survivor counts. All similarity math rides integer-quantized sums,
  // and the closed form is spelled as explicit multiplications (s⁴ and
  // q⁸ by squaring) so both engines produce bit-identical doubles. Scale
  // shape: one banded self-join at band-key grain (the q22 candidate
  // shuffle, quadratic only in bucket occupancy — see SCALE.md's
  // measured adjudication), one candidate-id pruned re-shingle pass, a
  // 10-row rollup.
  private val q291 = Q(
    "q291_lsh_scurve",
    (s, dir) => {
      import graft.operators.Ckpt
      val docs = tbl(s, dir, "documents")
      val banded = Ckpt.local(docs
        .select(col("doc_id").as("id"),
          Dedup.minhashSignature(col("text"), 32, 3).as("__sig"))
        .select(col("id"),
          posexplode(Dedup.bandKeysFromSig(col("__sig"), 32, 8))
            .as(Seq("band", "key"))))
      val cand = Ckpt.local(
        banded.select(col("band"), col("key"), col("id").as("id_a"))
          .join(banded.select(col("band"), col("key"), col("id").as("id_b")),
            Seq("band", "key"))
          .filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_bands")))
      val ids = Dedup.pairEndpointIds(cand) // one cand-checkpoint scan, not two
      val candSh = docs.select(col("doc_id").as("id"), col("text"))
        .join(broadcast(ids), "id")
        // per-doc sort → per-pair merge-walk ji (c·10⁶/u association
        // mirrored exactly by the scaled SortedJaccardExpr variant)
        .select(col("id"), sort_array(TextFns.wordShingles(col("text"), 3)).as("sh"))
      val ji = floor(graft.plans.SortedJaccardExpr.scaled1e6(col("sh_a"), col("sh_b"))
        + lit(0.5)).cast("long")
      val binned = cand
        .join(candSh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(candSh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .select(col("n_bands"), ji.as("ji"))
        .withColumn("bin", least(expr("ji div 100000"), lit(9L)))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_pairs"), sum(col("ji")).as("sji"),
          sum(col("n_bands")).as("sb"))
      val mj = Det.roundAt(
        col("sji").cast("double") / lit(1e6) / col("n_pairs").cast("double"), 6)
      val s4 = mj * mj * mj * mj
      val qq = lit(1.0) - s4
      val t2 = qq * qq; val t4 = t2 * t2
      val pDet = lit(1.0) - t4 * t4
      binned
        .withColumn("mean_jaccard", mj)
        .withColumn("p_detect", Det.roundAt(pDet, 6))
        .select(col("bin"), col("n_pairs"),
          col("mean_jaccard"),
          Det.roundAt(col("sb").cast("double") / col("n_pairs").cast("double"), 6)
            .as("mean_bands"),
          col("p_detect"),
          when(col("p_detect") > 0, Det.roundAt(
            col("n_pairs").cast("double") / col("p_detect"), 6)).as("est_true_pairs"),
          when(col("p_detect") > 0, Det.roundAt(
            col("n_pairs").cast("double") / col("p_detect")
              - col("n_pairs").cast("double"), 6)).as("est_missed"))
        .orderBy("bin")
    },
    Some {
      val ji = "CAST(floor(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) * 1000000.0" +
        " / CAST(len(list_distinct(list_concat(sh_a, sh_b))) AS DOUBLE) + 0.5) AS BIGINT)"
      s"""WITH $minhashCtes,
        cb AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b,
            CAST(COUNT(*) AS BIGINT) AS n_bands,
            any_value(a.sh) AS sh_a, any_value(c.sh) AS sh_b
          FROM banded a JOIN banded c
            ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
          GROUP BY 1, 2),
        lab AS (SELECT n_bands, $ji AS ji FROM cb),
        bins AS (SELECT LEAST(ji // 100000, 9) AS bin,
            CAST(COUNT(*) AS BIGINT) AS n_pairs,
            CAST(SUM(ji) AS BIGINT) AS sji, CAST(SUM(n_bands) AS BIGINT) AS sb
          FROM lab GROUP BY 1),
        m AS (SELECT bin, n_pairs, sb,
            ${Det.roundAtSql(
              "CAST(sji AS DOUBLE) / 1000000.0 / CAST(n_pairs AS DOUBLE)", 6)} AS mj
          FROM bins),
        p AS (SELECT bin, n_pairs, sb, mj,
            ${Det.roundAtSql(
              "1.0 - (((1.0 - mj*mj*mj*mj) * (1.0 - mj*mj*mj*mj))" +
              " * ((1.0 - mj*mj*mj*mj) * (1.0 - mj*mj*mj*mj)))" +
              " * (((1.0 - mj*mj*mj*mj) * (1.0 - mj*mj*mj*mj))" +
              " * ((1.0 - mj*mj*mj*mj) * (1.0 - mj*mj*mj*mj)))", 6)} AS p_detect
          FROM m)
      SELECT bin, n_pairs, mj AS mean_jaccard,
        ${Det.roundAtSql("CAST(sb AS DOUBLE) / CAST(n_pairs AS DOUBLE)", 6)}
          AS mean_bands,
        p_detect,
        CASE WHEN p_detect > 0 THEN
          ${Det.roundAtSql("CAST(n_pairs AS DOUBLE) / p_detect", 6)} END
          AS est_true_pairs,
        CASE WHEN p_detect > 0 THEN
          ${Det.roundAtSql(
            "CAST(n_pairs AS DOUBLE) / p_detect - CAST(n_pairs AS DOUBLE)", 6)} END
          AS est_missed
      FROM p ORDER BY bin"""
    })

  // q292 — DEDUP RETENTION EQUITY: per-language doc retention after
  // near-dup CLUSTER dedup (min-id survivor, the q289 policy), against
  // the corpus-wide rate. Near-dup dedup is known to prune low-resource
  // languages disproportionately when cross-language boilerplate shares
  // shingles — this is the audit that catches it before a tokenizer
  // inherits the skew. One lang-grain aggregate over the anti-joined
  // survivor set; the corpus-wide rate is a broadcast 1-row join.
  private val q292 = Q(
    "q292_retention_equity",
    (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val cl = Dedup.clusters(Dedup.minhashLshPairs(docs,
        "doc_id", "text", numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs)
      val losers = cl
        .withColumn("mn", min(col("id")).over(Window.partitionBy(col("cluster"))))
        .filter(col("id") =!= col("mn")).select(col("id").as("doc_id"))
      val base = docs.select(col("doc_id"), col("lang"))
      val perLang = base
        .join(losers.withColumn("lost", lit(true)), Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("lost").isNull, lit(1))).as("n_kept"))
      val overall = perLang.agg(sum(col("n_docs")).as("tn"), sum(col("n_kept")).as("tk"))
      perLang.crossJoin(broadcast(overall))
        .select(col("lang"), col("n_docs"), col("n_kept"),
          Det.roundAt(col("n_kept").cast("double") / col("n_docs").cast("double"), 6)
            .as("retention"),
          Det.roundAt(col("n_kept").cast("double") / col("n_docs").cast("double")
            / (col("tk").cast("double") / col("tn").cast("double")), 6)
            .as("equity_ratio"))
        .orderBy("lang")
    },
    Some(s"""WITH $minhashCtes, $ccCtes,
        nel AS (SELECT id AS doc_id FROM (SELECT id,
            MIN(id) OVER (PARTITION BY cluster) AS mn FROM cc)
          WHERE id <> mn),
        per AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(COUNT(CASE WHEN doc_id NOT IN (SELECT doc_id FROM nel)
              THEN 1 END) AS BIGINT) AS n_kept
          FROM documents GROUP BY lang),
        tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tn,
            CAST(SUM(n_kept) AS BIGINT) AS tk FROM per)
      SELECT lang, n_docs, n_kept,
        ${Det.roundAtSql(
          "CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6)} AS retention,
        ${Det.roundAtSql(
          "CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE)" +
          " / (CAST(tk AS DOUBLE) / CAST(tn AS DOUBLE))", 6)} AS equity_ratio
      FROM per CROSS JOIN tot ORDER BY lang"""))

  // q293 — BPE MERGE-CURVE (vocab-size ablation): corpus fertility after
  // 0, 1, 2 and 3 training merges — the marginal-value-per-merge table
  // that decides where a vocabulary stops paying for itself. BPE merges
  // are PREFIX-CLOSED (the round-r tokenizer is the first r merges of
  // the round-k one), so one k=3 training run yields all four
  // segmentations; corpus stats ride the (word, freq) vocabulary —
  // frequency-weighted sums, never a corpus re-scan per round. The
  // oracle reads the same numbers off the shared q188 replay's r0..r3.
  private val q293 = Q(
    "q293_bpe_merge_curve",
    (s, dir) => {
      import graft.operators.Bpe
      val words = tbl(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
      val (_, merges) = Bpe.train(words, "w", "freq", k = 3)
      // The oracle is hard-coded to rounds r0..r3: a corpus that exhausts
      // its mergeable pairs early would silently emit fewer rows and
      // hash-mismatch — fail loudly instead.
      require(merges.size == 3,
        s"q293 expects 3 BPE merges (oracle rows r0..r3), got ${merges.size}")
      val base = words.select(col("w"), col("freq"), Bpe.charSyms(col("w")).as("syms"))
      val segs = merges.scanLeft(base) { case (seg, (a, b, _)) =>
        seg.withColumn("syms", Bpe.applyMerge(col("syms"), a, b))
      }
      val rows = segs.zipWithIndex.map { case (seg, r) =>
        seg.agg(sum(col("freq")).as("n_words"),
            sum(col("freq") * size(col("syms")).cast("long")).as("n_subwords"),
            sum(col("freq") * length(col("w")).cast("long")).as("n_chars"))
          .withColumn("n_merges", lit(r.toLong))
      }.reduce(_ unionByName _)
      val w4 = Window.orderBy("n_merges") // 4 rows: constant-bounded
      rows
        .withColumn("subwords_saved",
          coalesce(lag(col("n_subwords"), 1).over(w4) - col("n_subwords"), lit(0L)))
        .select(col("n_merges"), col("n_subwords"),
          Det.roundAt(col("n_subwords").cast("double")
            / col("n_words").cast("double"), 6).as("fertility"),
          Det.roundAt(col("n_chars").cast("double")
            / col("n_subwords").cast("double"), 6).as("chars_per_subword"),
          col("subwords_saved"))
        .orderBy("n_merges")
    },
    Some {
      def stat(r: Int) =
        s"""SELECT CAST($r AS BIGINT) AS n_merges,
          CAST(SUM(freq) AS BIGINT) AS n_words,
          CAST(SUM(freq * len(syms)) AS BIGINT) AS n_subwords,
          CAST(SUM(freq * length(w)) AS BIGINT) AS n_chars FROM r$r"""
      s"""WITH $bpeTrainCtes,
        u AS (${stat(0)} UNION ALL ${stat(1)} UNION ALL ${stat(2)} UNION ALL ${stat(3)})
      SELECT n_merges, n_subwords,
        ${Det.roundAtSql(
          "CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE)", 6)} AS fertility,
        ${Det.roundAtSql(
          "CAST(n_chars AS DOUBLE) / CAST(n_subwords AS DOUBLE)", 6)} AS chars_per_subword,
        CAST(COALESCE(LAG(n_subwords) OVER (ORDER BY n_merges) - n_subwords, 0)
          AS BIGINT) AS subwords_saved
      FROM u ORDER BY n_merges"""
    })

  // q294 — CLUSTER-CHAINING AUDIT: connected-components dedup merges by
  // TRANSITIVITY, so a cluster can hold pairs that are NOT direct
  // near-dups (A~B, B~C chains A–C even when J(A,C) < τ) — the known
  // over-merging artifact of CC-based survivor selection. Per cluster
  // size: how many intra-cluster pairs exist, how many are direct
  // (J ≥ 0.5), and the chained fraction — the table that says whether
  // min-id-per-component survivors are deleting docs that were never
  // near-dups of anything kept. Scale shape: clusters are the SMALL
  // relation (dup components only); intra-pair enumeration is
  // C(size, 2) per cluster — bounded here, and at a corpus whose
  // components chain unboundedly the same audit runs on a size-capped
  // sample of clusters (the cap is the audit's own first output).
  private val q294 = Q(
    "q294_cluster_chaining",
    (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val cl = Dedup.clusters(Dedup.minhashLshPairs(docs,
        "doc_id", "text", numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs)
      val sized = cl.withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
      val memSh = docs.select(col("doc_id").as("id"), col("text"))
        .join(broadcast(cl.select("id")), "id")
        // per-doc sort → per-pair merge-walk direct test below
        .select(col("id"), sort_array(TextFns.wordShingles(col("text"), 3)).as("sh"))
      val pairs = sized.select(col("cluster"), col("cluster_size"), col("id").as("id_a"))
        .join(sized.select(col("cluster"), col("id").as("id_b")), Seq("cluster"))
        .filter(col("id_a") < col("id_b"))
        .join(memSh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(memSh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("direct",
          (graft.plans.SortedJaccardExpr(col("sh_a"), col("sh_b")) >= 0.5)
            .cast("long"))
      val byCluster = pairs.groupBy("cluster", "cluster_size")
        .agg(count(lit(1)).as("np"), sum(col("direct")).as("nd"))
      byCluster.groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("np")).as("n_pairs"), sum(col("nd")).as("n_direct"))
        .select(col("cluster_size").cast("long").as("cluster_size"),
          col("n_clusters"), col("n_pairs"), col("n_direct"),
          Det.roundAt(lit(1.0) - col("n_direct").cast("double")
            / col("n_pairs").cast("double"), 6).as("chained_rate"))
        .orderBy("cluster_size")
    },
    Some(s"""WITH $minhashCtes, $ccCtes,
        sized AS (SELECT id, cluster,
            COUNT(*) OVER (PARTITION BY cluster) AS cluster_size FROM cc),
        sh0 AS (SELECT doc_id AS id, ${wordShinglesSql(3)} AS sh FROM documents
          WHERE doc_id IN (SELECT id FROM cc)),
        ip AS (SELECT a.cluster, a.cluster_size, a.id AS id_a, b.id AS id_b
          FROM sized a JOIN sized b ON a.cluster = b.cluster AND a.id < b.id),
        scored AS (SELECT cluster, cluster_size,
            CASE WHEN CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE) >= 0.5
              THEN 1 ELSE 0 END AS direct
          FROM ip JOIN sh0 x ON x.id = ip.id_a JOIN sh0 y ON y.id = ip.id_b),
        byc AS (SELECT cluster, cluster_size, CAST(COUNT(*) AS BIGINT) AS np,
            CAST(SUM(direct) AS BIGINT) AS nd
          FROM scored GROUP BY cluster, cluster_size)
      SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        CAST(COUNT(*) AS BIGINT) AS n_clusters,
        CAST(SUM(np) AS BIGINT) AS n_pairs, CAST(SUM(nd) AS BIGINT) AS n_direct,
        ${Det.roundAtSql(
          "1.0 - CAST(SUM(nd) AS DOUBLE) / CAST(SUM(np) AS DOUBLE)", 6)}
          AS chained_rate
      FROM byc GROUP BY cluster_size ORDER BY cluster_size"""))

  // q295 — HAPAX 5-GRAM RATE PER SOURCE: the OCR-junk / low-quality-feed
  // detector — a source whose 5-grams disproportionately appear EXACTLY
  // ONCE corpus-wide is emitting noise, not language. (Word-level hapax
  // is degenerate on this corpus's closed vocabulary; gram-level is the
  // document-fingerprint analogue and the form that scales to real
  // corpora.) Two gram-grain aggregates: (source, gram) occurrence
  // counts, then corpus totals derived FROM that relation — never a
  // second corpus scan — joined back at gram grain and rolled up per
  // source.
  private val q295 = Q(
    "q295_hapax_grams",
    (s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("source"), TextFns.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 5)
      def gram5 = transform(sequence(lit(1), size(col("tk")) - 4),
        i => concat_ws(" ", (0 until 5).map(o =>
          element_at(col("tk"), (i + o).cast("int"))): _*))
      val nsw = d.select(col("source"), explode(gram5).as("gr"))
        .select(col("source"), TextFns.portableHash(col("gr")).as("hg"))
        .groupBy("source", "hg").agg(count(lit(1)).as("nsw"))
      val cw = nsw.groupBy("hg").agg(sum(col("nsw")).as("cw"))
      nsw.join(cw, "hg")
        .groupBy("source")
        .agg(sum(col("nsw")).as("n_grams"),
          count(lit(1)).as("n_types"),
          count(when(col("cw") === 1, lit(1))).as("n_hapax"))
        .select(col("source"), col("n_grams"), col("n_types"), col("n_hapax"),
          Det.roundAt(col("n_hapax").cast("double") / col("n_grams").cast("double"), 6)
            .as("hapax_share"),
          Det.roundAt(col("n_types").cast("double") / col("n_grams").cast("double"), 6)
            .as("type_gram_ratio"))
        .orderBy("source")
    },
    Some(s"""WITH t AS (SELECT source, $toks AS tk FROM documents),
        f AS (SELECT source, tk FROM t WHERE len(tk) >= 5),
        g AS (SELECT source, ${hSql("gr")} AS hg FROM (
          SELECT source, unnest(list_transform(range(1, len(tk) - 3),
            i -> array_to_string(tk[i:i + 4], ' '))) AS gr
          FROM f)),
        nsw AS (SELECT source, hg, CAST(COUNT(*) AS BIGINT) AS nsw
          FROM g GROUP BY source, hg),
        cw AS (SELECT hg, CAST(SUM(nsw) AS BIGINT) AS cw FROM nsw GROUP BY hg),
        per AS (SELECT source, CAST(SUM(nsw) AS BIGINT) AS n_grams,
            CAST(COUNT(*) AS BIGINT) AS n_types,
            CAST(COUNT(CASE WHEN cw = 1 THEN 1 END) AS BIGINT) AS n_hapax
          FROM nsw JOIN cw USING (hg) GROUP BY source)
      SELECT source, n_grams, n_types, n_hapax,
        ${Det.roundAtSql(
          "CAST(n_hapax AS DOUBLE) / CAST(n_grams AS DOUBLE)", 6)} AS hapax_share,
        ${Det.roundAtSql(
          "CAST(n_types AS DOUBLE) / CAST(n_grams AS DOUBLE)", 6)} AS type_gram_ratio
      FROM per ORDER BY source"""))

  // q296 — SHINGLE-WIDTH SENSITIVITY: for every verified 3-shingle
  // near-dup pair (q22's output), re-score with 5-shingles and report,
  // per J₃ band, the mean J₅, the mean |J₃ − J₅| drift, and the share of
  // verdicts that SURVIVE at 5-shingles — the table that says whether
  // the dedup decision is an artifact of the shingle width. Candidate
  // ids are broadcast into a pruned re-shingle pass (two passes, 3- and
  // 5-gram, candidate rows only); all similarity math is
  // integer-quantized like q291.
  private val q296 = Q(
    "q296_shingle_sensitivity",
    (s, dir) => {
      val docs = tbl(s, dir, "documents")
      // pairs feeds BOTH the endpoint-id set and the final 5-gram join —
      // checkpoint the slim (id_a, id_b, jaccard) relation so the LSH
      // verify pipeline runs once, and take endpoints in one explode pass
      val pairs = graft.operators.Ckpt.local(
        Dedup.minhashLshPairs(docs, "doc_id", "text",
          numHashes = 32, bands = 8, shingleN = 3, threshold = 0.5).pairs)
      val ids = Dedup.pairEndpointIds(pairs)
      val sh5 = docs.select(col("doc_id").as("id"), col("text"))
        .join(broadcast(ids), "id")
        // per-doc sort → per-pair merge-walk j5 (scaled association
        // mirrored exactly — see q291)
        .select(col("id"), sort_array(TextFns.wordShingles(col("text"), 5)).as("sh"))
      def jq(a: Column, b: Column) =
        floor(graft.plans.SortedJaccardExpr.scaled1e6(a, b) + lit(0.5)).cast("long")
      pairs
        .select(col("id_a"), col("id_b"),
          floor(col("jaccard") * lit(1e6) + lit(0.5)).cast("long").as("j3"))
        .join(sh5.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh5.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("j5", jq(col("sh_a"), col("sh_b")))
        .withColumn("band", least(expr("j3 div 100000"), lit(9L)))
        .groupBy("band")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("j3")).as("sj3"), sum(col("j5")).as("sj5"),
          sum(abs(col("j3") - col("j5"))).as("sd"),
          count(when(col("j5") >= 500000L, lit(1))).as("n_survive"))
        .select(col("band"), col("n_pairs"),
          Det.roundAt(col("sj3").cast("double") / lit(1e6)
            / col("n_pairs").cast("double"), 6).as("mean_j3"),
          Det.roundAt(col("sj5").cast("double") / lit(1e6)
            / col("n_pairs").cast("double"), 6).as("mean_j5"),
          Det.roundAt(col("sd").cast("double") / lit(1e6)
            / col("n_pairs").cast("double"), 6).as("mean_abs_drift"),
          Det.roundAt(col("n_survive").cast("double")
            / col("n_pairs").cast("double"), 6).as("survive_rate"))
        .orderBy("band")
    },
    Some {
      val j5 = "CAST(floor(CAST(len(list_intersect(sh5_a, sh5_b)) AS DOUBLE) * 1000000.0" +
        " / CAST(len(list_distinct(list_concat(sh5_a, sh5_b))) AS DOUBLE) + 0.5) AS BIGINT)"
      s"""WITH $minhashCtes,
        vp AS (SELECT id_a, id_b,
            CAST(floor((${jaccardSql("sh_a", "sh_b")}) * 1000000.0 + 0.5) AS BIGINT) AS j3
          FROM cand WHERE ${jaccardSql("sh_a", "sh_b")} >= 0.5),
        s5 AS (SELECT doc_id AS id, ${wordShinglesSql(5)} AS sh5 FROM documents
          WHERE doc_id IN (SELECT id_a FROM vp UNION SELECT id_b FROM vp)),
        sc AS (SELECT j3, $j5 AS j5 FROM vp
          JOIN (SELECT id, sh5 AS sh5_a FROM s5) x ON x.id = vp.id_a
          JOIN (SELECT id, sh5 AS sh5_b FROM s5) y ON y.id = vp.id_b),
        b AS (SELECT LEAST(j3 // 100000, 9) AS band, j3, j5 FROM sc)
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        ${Det.roundAtSql(
          "CAST(SUM(j3) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE)", 6)} AS mean_j3,
        ${Det.roundAtSql(
          "CAST(SUM(j5) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE)", 6)} AS mean_j5,
        ${Det.roundAtSql(
          "CAST(SUM(abs(j3 - j5)) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE)", 6)}
          AS mean_abs_drift,
        ${Det.roundAtSql(
          "CAST(COUNT(CASE WHEN j5 >= 500000 THEN 1 END) AS DOUBLE)" +
          " / CAST(COUNT(*) AS DOUBLE)", 6)} AS survive_rate
      FROM b GROUP BY band ORDER BY band"""
    })

  // q297 — KEEP-FIRST SEGMENT DEDUP (C4's actual rule): a segment that
  // occurs in several documents survives ONLY in the lowest-doc_id
  // holder — one copy stays in the corpus, unlike q110's boilerplate
  // strip which deletes every copy. Per source: segments kept/dropped
  // and the character-retention rate. One segment-grain window (min
  // holder per segment hash) — at 100 TB this is the same
  // fingerprint-grain shuffle as exact dedup, and keep-first gives a
  // deterministic survivor without a second pass.
  private val q297 = Q(
    "q297_keep_first_segments",
    (s, dir) => {
      val segs = tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(TextFns.segments(col("text"), 5)).as("seg"))
        .select(col("doc_id"), col("source"), length(col("seg")).cast("long").as("nc"),
          TextFns.portableHash(col("seg")).as("seg_h"))
      val tagged = segs.withColumn("mn",
        min(col("doc_id")).over(Window.partitionBy(col("seg_h"))))
      tagged.groupBy("source")
        .agg(count(lit(1)).as("n_segments"),
          count(when(col("doc_id") === col("mn"), lit(1))).as("n_kept"),
          sum(col("nc")).as("chars_total"),
          sum(when(col("doc_id") === col("mn"), col("nc"))).as("chars_kept"))
        .withColumn("chars_kept", coalesce(col("chars_kept"), lit(0L)))
        .select(col("source"), col("n_segments"), col("n_kept"),
          col("chars_total"), col("chars_kept"),
          Det.roundAt(col("chars_kept").cast("double")
            / col("chars_total").cast("double"), 6).as("char_retention"))
        .orderBy("source")
    },
    Some(s"""WITH t AS (SELECT doc_id, source, $toks AS tk FROM documents),
        segs AS (SELECT doc_id, source, length(u.seg) AS nc, ${hSql("u.seg")} AS seg_h
          FROM t, unnest(list_transform(range(0, len(tk) // 5),
            i -> array_to_string(tk[i*5+1:i*5+5], ' '))) AS u(seg)),
        tagged AS (SELECT source, nc,
            doc_id = MIN(doc_id) OVER (PARTITION BY seg_h) AS keep FROM segs)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_segments,
        CAST(COUNT(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_kept,
        CAST(SUM(nc) AS BIGINT) AS chars_total,
        CAST(COALESCE(SUM(CASE WHEN keep THEN nc END), 0) AS BIGINT) AS chars_kept,
        ${Det.roundAtSql(
          "CAST(COALESCE(SUM(CASE WHEN keep THEN nc END), 0) AS DOUBLE)" +
          " / CAST(SUM(nc) AS DOUBLE)", 6)} AS char_retention
      FROM tagged GROUP BY source ORDER BY source"""))

  val all: Seq[Q] = Seq(q21, q22, q23, q24, q25, q26, q27, q31, q34, q39,
    q44, q45, q53, q54, q55, q60, q61, q62, q63, q68, q72, q73, q75, q82,
    q83, q88, q96, q99, q104, q105, q107, q108, q110, q113, q114, q117, q118,
    q119, q121, q122, q130, q131, q133, q136, q137, q138, q139, q140, q143,
    q144, q150, q158, q159, q160, q161, q164, q165, q166, q168, q169, q170,
    q171, q172, q173, q174, q175, q176, q177, q178, q179, q180, q183, q184,
    q186, q188, q189, q190, q193, q194, q198, q200, q206, q219, q224, q232,
    q234, q242, q249, q257, q281, q282, q284, q285, q286, q288, q289, q290,
    q291, q292, q293, q294, q295, q296, q297)
}
