package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator mirroring TESTDATA.md's
  * schema + distribution recipe, for scale experiments ABOVE the
  * driver-shipped sf0.1 (the shipped testdata is read-only; this writes
  * to a caller-chosen dir, e.g. /tmp/graft-sf1).
  *
  * Usage: `runMain graft.GenData <outDir> <sf>` — row counts scale as
  * in the shipped sets (lineitem ≈ 6 M × sf, events = 1 M × sf, …);
  * region/nation are the shipped constant tables, copied verbatim.
  *
  * Every value is a PURE FUNCTION of (table, row id) via xxhash64 —
  * no RNG state, no partitioning sensitivity: the same (outDir, sf)
  * always produces byte-identical data, and generation parallelizes
  * over `spark.range` with no shuffle. Distribution shapes match the
  * shipped sf0.1 measurements:
  *   - lineitem: qty 1-50, discount 0-0.10 step .01, tax 0-.08,
  *     extendedprice ~ U(900, 105000), 1-7 lines/order, flags uniform
  *   - orders: totalprice ~ U(1000, 500000), dates U(1995..2001-08)
  *   - events: 30 days of Jan-2024, users = customers/10,
  *     value ~ Exp(mean 50), props {"k": 0..99}, 5 uniform types
  *   - documents: 10-100 words uniform over the 30-word vocab;
  *     5% of docs are an exact copy of a random base doc + " dup"
  *     (the planted near-dup structure the LSH family mines);
  *     lang ~ {en 41%, zh/es/fr/de ~15%}, source src0..src19
  *   - embeddings: 64-dim isotropic gaussian, L2-normalized, no
  *     planted near-dups (as shipped), label = hash mod 10
  */
object GenData {

  /** Uniform in [0,1) from (id, salt) — fully deterministic. */
  private def u(id: Column, salt: Int): Column =
    (pmod(xxhash64(id, lit(salt)), lit(1000000000L)).cast("double") + lit(0.5)) /
      lit(1000000000.0)

  /** Integer in [0, n) from (id, salt). */
  private def ui(id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(id, lit(salt)), lit(n))

  private val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** lineitem: 1-7 lines per order (avg 4 → ≈ 6 M × sf rows), shipdate
    * independent uniform like the shipped set. Takes the order-id frame
    * as input so a spec can feed differently-partitioned ranges and pin
    * partition-insensitivity (every value is a pure function of the id).
    */
  def lineitemFrom(orderIds: DataFrame, nPart: Long, nSupp: Long): DataFrame = {
    val id = col("id")
    val shipEpoch0 = java.time.LocalDate.of(1995, 1, 2).toEpochDay
    val shipDays = java.time.LocalDate.of(2001, 11, 4).toEpochDay - shipEpoch0
    val li = orderIds
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1), (ui(id, 51, 7) + 1).cast("int")))
          .as("l_linenumber"))
      .withColumn("lid", col("l_orderkey") * 8 + col("l_linenumber"))
    li.select(
      col("l_orderkey"),
      ui(col("lid"), 52, nPart).as("l_partkey"),
      ui(col("lid"), 53, nSupp).as("l_suppkey"),
      col("l_linenumber"),
      (ui(col("lid"), 54, 50) + 1).cast("double").as("l_quantity"),
      round(u(col("lid"), 55) * 104100.0 + 900.0, 2).as("l_extendedprice"),
      (ui(col("lid"), 56, 11).cast("double") / 100.0).as("l_discount"),
      (ui(col("lid"), 57, 9).cast("double") / 100.0).as("l_tax"),
      element_at(typedLit(Seq("N", "A", "R")), ui(col("lid"), 58, 3).cast("int") + 1)
        .as("l_returnflag"),
      element_at(typedLit(Seq("O", "F")), ui(col("lid"), 59, 2).cast("int") + 1)
        .as("l_linestatus"),
      timestamp_seconds((ui(col("lid"), 60, shipDays) + shipEpoch0) * 86400L)
        .as("l_shipdate"))
  }

  /** documents: pure-function word sequence per BASE id so a dup doc can
    * regenerate its base's text without a join. 5% of docs are an exact
    * copy of a (non-dup) base doc's text + " dup"; the base is chosen by
    * chaining two hash candidates, falling back to `minNonDup` (computed
    * by the caller as the smallest non-dup id). */
  def documentsFrom(docIds: DataFrame, nDoc: Long, minNonDup: Long): DataFrame =
    documentsWith(docIds, nDoc, minNonDup) { base =>
      val len = (ui(base, 71, 91) + 10).cast("int")
      concat_ws(" ", transform(sequence(lit(1), len),
        k => element_at(typedLit(Vocab),
          pmod(xxhash64(base * 128 + k, lit(72)), lit(30)).cast("int") + 1)))
    }

  /** Zipf large-vocabulary documents: same schema, same dup-planting and
    * lang/source/length distributions as [[documentsFrom]], but word k of
    * doc `base` is drawn Zipf(1)-distributed over a `vocab`-word universe
    * ("w1".."w<vocab>") instead of uniform over 30 words. Rank via the
    * closed-form inverse CDF of Zipf with exponent 1: for u ~ U[0,1),
    * r = floor((V+1)^u) has P(r) = ln((r+1)/r)/ln(V+1) ∝ 1/r — a single
    * codegen'd column expression, still a pure function of (doc id, k).
    *
    * WHY: the 30-word vocab makes every 3-shingle universe tiny, so LSH
    * band collisions happen at a corpus-size-INDEPENDENT rate and
    * candidate pairs grow ~n² by construction — a testdata artifact that
    * dominated the q22/q39/q119 scale slopes (SCALE_r8.json
    * `lsh_candidate_growth`). A Zipf vocab reproduces real-corpus shingle
    * statistics: a heavy head (shared function words) plus a long tail
    * that makes most shingles rare, so candidates should track the
    * planted dups ~linearly. */
  def documentsZipfFrom(docIds: DataFrame, nDoc: Long, minNonDup: Long,
                        vocab: Long = 100000L, boilerPct: Double = 0.0,
                        markerPct: Double = 0.0,
                        dupPct: Double = 0.05): DataFrame = {
    // alphaOf renders exactly 4 base-26 letters: ranks beyond
    // 26^4 - 17576 = 439,400 would wrap (c4 = r0/17576 % 26), silently
    // mapping distant Zipf ranks onto the same word and distorting the
    // shingle statistics the marker corpus exists to make realistic.
    require(markerPct <= 0.0 || vocab <= 439400L,
      s"marker mode renders ranks as 4 letters; vocab=$vocab > 439400 would wrap")
    documentsWith(docIds, nDoc, minNonDup, dupPct) { base =>
      // markerPct > 0 = the LANGUAGE-BEARING variant: words render
      // alphabetically (base-26 of the Zipf rank — "wNNN" digit words
      // zero out qualityScore's alpha_ratio, which silently emptied the
      // funnel family's survivor set on the plain Zipf corpora), and
      // each word is, with probability markerPct, replaced by a marker
      // stopword of the doc's assigned language (TextFns.LangMarkers;
      // 'zh' has no Latin markers and stays 'unknown' — realistic: a
      // fraction of any crawl fails language ID). Gives q119-family
      // gates a REPRESENTATIVE pass-rate at scale instead of 0%.
      def alphaOf(rank: Column): Column = {
        // rank 1..100000 → exactly 4 lowercase letters (offset into the
        // base-26 space). Word length is load-bearing for the quality
        // gate: alpha_ratio counts SPACES against the text, so a corpus
        // of w+2-letter words tops out at alpha ≈ 0.78 and the 0.8
        // quality threshold silently re-empties the survivor set this
        // variant exists to fill; w+4 letters give alpha ≈ 0.82 and the
        // gate discriminates on length again (the realistic behavior).
        val r0 = rank + 17575L
        val c1 = (r0 % 26).cast("int")
        val c2 = ((r0.cast("long") / 26L) % 26L).cast("int")
        val c3 = ((r0.cast("long") / 676L) % 26L).cast("int")
        val c4 = ((r0.cast("long") / 17576L) % 26L).cast("int")
        val abc = typedLit(('a' to 'z').map(_.toString))
        concat(element_at(abc, c4 + 1), element_at(abc, c3 + 1),
          element_at(abc, c2 + 1), element_at(abc, c1 + 1))
      }
      def zipfWord(cell: Column): Column = {
        val rank = least(floor(pow(lit(vocab + 1.0), u(cell, 78)))
          .cast("long"), lit(vocab))
        val plain =
          if (markerPct <= 0.0) concat(lit("w"), rank.cast("string"))
          else concat(lit("w"), alphaOf(rank))
        if (markerPct <= 0.0) plain
        else {
          // doc language mirrors documentsWith's derivation from the
          // BASE id, so a dup's text regenerates its base's markers
          val langSel = when(ui(base, 75, 100) < 41, lit("en"))
            .otherwise(element_at(typedLit(Seq("zh", "es", "fr", "de")),
              pmod(ui(base, 75, 100) - 41, lit(4)).cast("int") + 1))
          val markers = graft.functions.TextFns.LangMarkers.toMap
            .map { case (l, ws) => l -> ws.map(_.trim) }
          val mIdx = ui(cell, 89, 5).cast("int") + 1
          val markerWord = when(langSel === "en",
              element_at(typedLit(markers("en")), mIdx))
            .when(langSel === "es", element_at(typedLit(markers("es")), mIdx))
            .when(langSel === "fr", element_at(typedLit(markers("fr")), mIdx))
            .when(langSel === "de", element_at(typedLit(markers("de")), mIdx))
            .otherwise(plain) // zh: no Latin markers
          when(u(cell, 88) < markerPct, markerWord).otherwise(plain)
        }
      }
      val len = (ui(base, 71, 91) + 10).cast("int")
      val normal = concat_ws(" ",
        transform(sequence(lit(1), len), k => zipfWord(base * 128 + k)))
      if (boilerPct <= 0.0) normal
      else {
        // Boilerplate-planted docs (`boilerPct` of the corpus): a FIXED
        // 30-word license-header prefix + a 0-10-word Zipf body — the
        // prefix dominates the shingle set, so these docs pile onto a
        // handful of (band, key) LSH buckets: the mega-bucket shape
        // [[graft.operators.Dedup.capBuckets]] exists for, planted so the
        // cap-fire experiment (SCALE_r10) can measure shed-rate vs
        // pair-recall on a corpus where the cap ACTUALLY fires. Pure
        // function of the base id like everything else here.
        val isBoiler = u(base, 85) < boilerPct
        val bodyLen = ui(base, 87, 11).cast("int")
        // In marker mode the body words render alphabetically, so the
        // prefix must too — a "wNNN" digit-word prefix would zero the
        // quality gate's alpha_ratio for exactly the boiler docs,
        // contradicting the marker corpus's all-alphabetic premise (the
        // two modes composed syntactically but produced an internally
        // inconsistent corpus; round-10 corpora used one mode at a time,
        // so their pinned numbers are unaffected).
        val prefix = if (markerPct > 0.0) BoilerPrefixAlpha else BoilerPrefix
        val boiler = when(bodyLen === 0, lit(prefix))
          .otherwise(concat(lit(prefix + " "), concat_ws(" ",
            transform(sequence(lit(1), greatest(bodyLen, lit(1))),
              k => zipfWord(base * 128 + k)))))
        when(isBoiler, boiler).otherwise(normal)
      }
    }
  }

  /** The planted license-header text: 30 fixed words drawn from the Zipf
    * vocab's first ~10k ranks (boilerplate is made of ordinary words, not
    * out-of-vocabulary tokens). Deterministic Scala constant — identical
    * across all boiler docs by construction. */
  val BoilerPrefix: String =
    (1 to 30).map(j => "w" + ((j * 2654435761L % 9973) + 1)).mkString(" ")

  /** Scala twin of the column-side `alphaOf` in [[documentsZipfFrom]]:
    * rank → exactly 4 base-26 lowercase letters with the same +17575
    * offset, so a driver-side constant can render the identical word a
    * generated doc would carry for that rank. */
  private[graft] def alphaOfScala(rank: Long): String = {
    val r0 = rank + 17575L
    Array(r0 / 17576 % 26, r0 / 676 % 26, r0 / 26 % 26, r0 % 26)
      .map(i => ('a' + i.toInt).toChar).mkString
  }

  /** [[BoilerPrefix]] rendered the way marker mode renders every word
    * (alphabetic base-26 ranks): the same 30 ranks, so boiler docs in a
    * marker corpus keep the all-alphabetic quality-gate premise. */
  val BoilerPrefixAlpha: String =
    (1 to 30).map(j => "w" + alphaOfScala((j * 2654435761L % 9973) + 1)).mkString(" ")

  /** Shared documents skeleton: dup planting, lang, source, n_chars.
    * `wordsFor` must be a pure function of the BASE id column so a dup
    * doc regenerates its base's text without a join. `dupPct` is the
    * planted near-dup fraction (0.05 everywhere except the oracle-fuzz
    * corpora, which sweep it); a caller passing a non-default value must
    * compute `minNonDup` under the SAME threshold. */
  private def documentsWith(docIds: DataFrame, nDoc: Long, minNonDup: Long,
                            dupPct: Double = 0.05)
                           (wordsFor: Column => Column): DataFrame = {
    val id = col("id")
    val isDup = u(id, 73) < dupPct
    val cand1 = ui(id, 74, nDoc)
    val cand2 = ui(id, 77, nDoc)
    val baseId = when(!isDup, id)
      .when(u(cand1, 73) >= dupPct, cand1)
      .when(u(cand2, 73) >= dupPct, cand2)
      .otherwise(lit(minNonDup))
    docIds
      .select(id.as("doc_id"),
        when(isDup, concat(wordsFor(baseId), lit(" dup")))
          .otherwise(wordsFor(id)).as("text"),
        element_at(typedLit(Seq("zh", "es", "fr", "de")),
          when(ui(id, 75, 100) < 41, lit(null).cast("int"))
            .otherwise(pmod(ui(id, 75, 100) - 41, lit(4)).cast("int") + 1))
          .as("lang0"),
        concat(lit("src"), ui(id, 76, 20).cast("string")).as("source"))
      .select(col("doc_id"), col("text"),
        coalesce(col("lang0"), lit("en")).as("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** embeddings: Box-Muller gaussian per (vec, dim), L2-normalized. */
  def embeddingsFrom(vecIds: DataFrame): DataFrame = {
    val id = col("id")
    def gauss(vid: Column, d: Column): Column = {
      val cell = vid * 64 + d
      sqrt(lit(-2.0) * log(u(cell, 81))) * cos(lit(2.0 * math.Pi) * u(cell, 82))
    }
    val raw = vecIds.select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), d => gauss(id, d)).as("g"))
    raw.select(col("vec_id"),
      transform(col("g"), x => (x / sqrt(aggregate(col("g"), lit(0.0),
        (acc, y) => acc + y * y))).cast("float")).as("embedding"),
      ui(col("vec_id"), 83, 10).cast("int").as("label"))
  }

  /** Clustered embeddings: mixture of `k` planted gaussian centroids with
    * POWER-LAW cluster sizes — cluster r (1-based) drawn with P(r) ∝ 1/r
    * via the same closed-form Zipf inverse CDF as the document generator,
    * so cluster 1 holds ~18% of the corpus and cluster 50 ~0.5%. Each
    * vector is L2-normalize(μ_c + σ·g): within-cluster cosine ≈ 1/(1+σ²)
    * (~0.9 at the 0.35 default), between-cluster ≈ 0 — clustered AND
    * anisotropic, unlike [[embeddingsFrom]]'s isotropic gaussians where
    * IVF bucket occupancy is uniform by construction. `label` = the TRUE
    * cluster id (the ground-truth coarse quantizer), so IVF recall on
    * this corpus measures what a trained quantizer could achieve, and
    * hot-cluster skew is the vector analog of boilerplate mega-buckets.
    * Same schema and determinism contract as [[embeddingsFrom]]. */
  def embeddingsClusteredFrom(vecIds: DataFrame, k: Int = 50,
                              sigma: Double = 0.35): DataFrame = {
    val id = col("id")
    def gauss(cell: Column, s1: Int, s2: Int): Column =
      sqrt(lit(-2.0) * log(u(cell, s1))) * cos(lit(2.0 * math.Pi) * u(cell, s2))
    val cluster = (least(floor(pow(lit(k + 1.0), u(id, 91))).cast("long"),
      lit(k.toLong)) - 1).cast("int")
    val raw = vecIds.select(id.as("vec_id"), cluster.as("cl"),
      transform(sequence(lit(0), lit(63)), d =>
        gauss(col("cl").cast("long") * 64 + d, 92, 93) +
          lit(sigma) * gauss(id * 64 + d, 81, 82)).as("g"))
    raw.select(col("vec_id"),
      transform(col("g"), x => (x / sqrt(aggregate(col("g"), lit(0.0),
        (acc, y) => acc + y * y))).cast("float")).as("embedding"),
      col("cl").as("label"))
  }

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val sf = args(1).toDouble
    val spark = GraftSession.local(app = "graft-gen")
    import spark.implicits._

    // `zipf-docs [vocab]` mode: write ONLY documents.parquet, with the
    // Zipf large-vocabulary generator — the corpus for re-measuring the
    // LSH-family scale slopes without the 30-word-vocab artifact.
    if (args.length > 2 && args(2) == "zipf-docs") {
      val vocab = if (args.length > 3) args(3).toLong else 100000L
      // optional 5th arg: boilerplate fraction (e.g. 0.05) — plants the
      // shared-license-prefix docs the LSH cap-fire experiment needs;
      // optional 6th arg: marker fraction (e.g. 0.15) — the language-
      // bearing variant (alphabetic words + per-lang marker stopwords)
      // that gives the funnel family a representative gate pass-rate
      val boilerPct = if (args.length > 4) args(4).toDouble else 0.0
      val markerPct = if (args.length > 5) args(5).toDouble else 0.0
      // optional 7th arg: planted near-dup fraction (default 0.05) — the
      // oracle-fuzz harness (tools/fuzz_oracle.py) sweeps it
      val dupPct = if (args.length > 6) args(6).toDouble else 0.05
      val nDoc = math.max(500L, (50000 * sf).toLong)
      val minNonDup = spark.range(nDoc).filter(u(col("id"), 73) >= dupPct)
        .agg(min(col("id"))).first().getLong(0)
      documentsZipfFrom(spark.range(nDoc).toDF("id"), nDoc, minNonDup, vocab,
          boilerPct, markerPct, dupPct)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      println(s"GENDATA zipf-docs documents=" +
        spark.read.parquet(s"$out/documents.parquet").count() +
        s" vocab=$vocab boiler=$boilerPct marker=$markerPct dup=$dupPct")
      spark.stop()
      return
    }

    // `clustered-embs [k] [sigma]` mode: write ONLY embeddings.parquet,
    // with the mixture-of-gaussians generator — the corpus for
    // re-measuring IVF recall / sub-bucketing slopes without the
    // isotropic-gaussian artifact (uniform bucket occupancy).
    if (args.length > 2 && args(2) == "clustered-embs") {
      val k = if (args.length > 3) args(3).toInt else 50
      val sigma = if (args.length > 4) args(4).toDouble else 0.35
      val nEmb = math.max(500L, (20000 * sf).toLong)
      embeddingsClusteredFrom(spark.range(nEmb).toDF("id"), k, sigma)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      println(s"GENDATA clustered-embs embeddings=" +
        spark.read.parquet(s"$out/embeddings.parquet").count() +
        s" k=$k sigma=$sigma")
      spark.stop()
      return
    }

    val nCust = math.max(150, (150000 * sf).toLong)
    val nSupp = math.max(10, (100000 * sf).toLong / 10)
    val nPart = math.max(200, (2000000 * sf).toLong / 10)
    val nOrd  = math.max(1500, (1500000 * sf).toLong)
    val nEv   = math.max(1000, (1000000 * sf).toLong)
    val nUser = nCust / 10
    val nDoc  = math.max(500L, (50000 * sf).toLong)
    val nEmb  = math.max(500L, (20000 * sf).toLong)

    // constant dimension tables: copy the shipped ones verbatim
    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"/root/testdata/sf0.1/$t.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$t.parquet")

    def id = col("id")

    spark.range(nCust).select(
        id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        ui(id, 11, 25).cast("int").as("c_nationkey"),
        round(u(id, 12) * 11000.0 - 1000.0, 2).as("c_acctbal"),
        element_at(typedLit(Seq("MACHINERY", "FURNITURE", "AUTOMOBILE",
          "HOUSEHOLD", "BUILDING")), ui(id, 13, 5).cast("int") + 1)
          .as("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")

    spark.range(nSupp).select(
        id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        ui(id, 21, 25).cast("int").as("s_nationkey"),
        round(u(id, 22) * 11000.0 - 1000.0, 2).as("s_acctbal"))
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")

    val adj = typedLit(Seq("large", "hot", "blue", "dark", "light",
      "small", "cold", "red", "green", "shiny"))
    val noun = typedLit(Seq("ring", "bolt", "screw", "wheel", "plate",
      "rod", "cap", "gear", "pin", "valve"))
    spark.range(nPart).select(
        id.as("p_partkey"),
        concat(element_at(adj, ui(id, 31, 10).cast("int") + 1), lit(" "),
          element_at(noun, ui(id, 32, 10).cast("int") + 1)).as("p_name"),
        concat(lit("Brand#"), (ui(id, 33, 25) + 1).cast("string")).as("p_brand"),
        element_at(typedLit(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
          "SMALL", "STANDARD")), ui(id, 34, 6).cast("int") + 1).as("p_type"),
        (ui(id, 35, 50) + 1).cast("int").as("p_size"),
        round(u(id, 36) * 99.9 + 900.0, 2).as("p_retailprice"))
      .write.mode("overwrite").parquet(s"$out/part.parquet")

    // orderdate: uniform seconds over [1995-01-01, 2001-08-01], at day
    // granularity like the shipped set
    val ordEpoch0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
    val ordDays = java.time.LocalDate.of(2001, 8, 1).toEpochDay - ordEpoch0
    spark.range(nOrd).select(
        id.as("o_orderkey"),
        ui(id, 41, nCust).as("o_custkey"),
        element_at(typedLit(Seq("O", "P", "F")), ui(id, 42, 3).cast("int") + 1)
          .as("o_orderstatus"),
        round(u(id, 43) * 499000.0 + 1000.0, 2).as("o_totalprice"),
        timestamp_seconds((ui(id, 44, ordDays) + ordEpoch0) * 86400L)
          .as("o_orderdate"),
        element_at(typedLit(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW",
          "4-NOT SPECIFIED")), ui(id, 45, 5).cast("int") + 1)
          .as("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    lineitemFrom(spark.range(nOrd).toDF("id"), nPart, nSupp)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // events: microsecond timestamps uniform over Jan 2024
    val evEpoch0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400L
    val evSpan = 30L * 86400L * 1000000L // 30 days in micros
    spark.range(nEv).select(
        id.as("event_id"),
        timestamp_micros(lit(evEpoch0 * 1000000L) +
          pmod(xxhash64(id, lit(61)), lit(evSpan))).as("ts"),
        ui(id, 62, nUser).as("user_id"),
        element_at(typedLit(Seq("signup", "purchase", "view", "click",
          "error")), ui(id, 63, 5).cast("int") + 1).as("event_type"),
        round(-lit(50.0) * log(u(id, 64)), 2).as("value"),
        format_string("{\"k\": %d}", ui(id, 65, 100)).as("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // A dup's base must itself be a NON-dup, or wordsFor(base) regenerates
    // text the base doc never carried (its actual text is its own base's
    // words + " dup"). The exact fallback base is the smallest non-dup id
    // (one cheap doc-grain job, deterministic).
    val minNonDup = spark.range(nDoc).filter(u(id, 73) >= 0.05)
      .agg(min(id)).first().getLong(0)
    documentsFrom(spark.range(nDoc).toDF("id"), nDoc, minNonDup)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    embeddingsFrom(spark.range(nEmb).toDF("id"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val counts = Seq("customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").map { t =>
      t -> spark.read.parquet(s"$out/$t.parquet").count()
    }
    println("GENDATA " + counts.map { case (t, c) => s"$t=$c" }.mkString(" "))
    spark.stop()
  }
}
