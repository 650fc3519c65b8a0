package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, row id,
  * salt), so the same seed yields the same rows whatever the
  * partitioning, and a different seed yields a different table of the
  * same shape and size.
  */
final class Gen(spark: SparkSession, seed: Long) {

  private def h(salt: Int, id: Column = col("id")): Column =
    xxhash64(lit(seed), id, lit(salt))

  /** Uniform integer in [0, n). */
  private def u(salt: Int, n: Long, id: Column = col("id")): Column =
    pmod(h(salt, id), lit(n))

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(salt, values.size) + 1).cast("int"))

  /** Money-like double with two decimals in [lo, lo + span). */
  private def cents(salt: Int, lo: Double, span: Long): Column =
    (lit(lo) + u(salt, span * 100) / lit(100.0))

  private def ntzDay(salt: Int, fromEpochDay: Int, days: Int): Column =
    date_from_unix_date((lit(fromEpochDay) + u(salt, days)).cast("int"))
      .cast("timestamp_ntz")

  private def range(n: Long, parts: Int = 1): DataFrame =
    spark.range(0L, n, 1L, parts).toDF()

  /** The documents fixture's vocabulary: thirty query-engine words,
    * near-uniform in the fixture text.
    */
  val fixtureWords: Seq[String] = Seq("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** Fixture words plus every two-word compound of them, so subword
    * tokenizers have merges to learn and shingles rarely collide by
    * chance.
    */
  val corpusWords: Seq[String] =
    fixtureWords ++ (for (a <- fixtureWords.take(20); b <- fixtureWords.take(12)
      if a != b) yield a + b)

  /** `text` of `minWords`..`maxWords` words drawn from `words`. */
  def text(salt: Int, words: Seq[String], minWords: Int, maxWords: Int,
      id: Column = col("id")): Column =
    array_join(wordArray(salt, words, minWords, maxWords, id), " ")

  def wordArray(salt: Int, words: Seq[String], minWords: Int,
      maxWords: Int, id: Column = col("id")): Column = {
    val n = lit(minWords) + u(salt, maxWords - minWords + 1, id)
    val vocab = array(words.map(lit): _*)
    transform(sequence(lit(1L), n.cast("long")), i =>
      element_at(vocab, (pmod(xxhash64(lit(seed), id, lit(salt), i),
        lit(words.size.toLong)) + 1).cast("int")))
  }

  // ---- TPC-H-shaped tables for the query workload -------------------

  /** The tables the `q*` queries read, sized by `lineitemRows`
    * (the TPC-H ratios: four lines per order, ten orders per customer).
    */
  def queryTables(lineitemRows: Long): Map[String, DataFrame] = {
    val orders = lineitemRows / 4
    val customers = math.max(10L, orders / 10)
    val suppliers = math.max(10L, lineitemRows / 600)
    val parts = math.max(10L, lineitemRows / 30) // l_partkey range
    val events = math.max(100L, lineitemRows / 6)
    val docs = math.max(50L, lineitemRows / 120)
    Map(
      "region" -> range(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
          "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast("int"))
          .as("r_name")),
      "nation" -> range(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
        pmod(col("id"), lit(5L)).cast("int").as("n_regionkey")),
      "customer" -> range(customers).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        u(1, 25).cast("int").as("c_nationkey"),
        cents(2, -999.99, 11000).as("c_acctbal"),
        pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY")).as("c_mktsegment")),
      "supplier" -> range(suppliers).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        u(4, 25).cast("int").as("s_nationkey"),
        cents(5, -999.99, 11000).as("s_acctbal")),
      "orders" -> range(orders).select(col("id").as("o_orderkey"),
        u(10, customers).as("o_custkey"),
        pick(11, Seq("F", "O", "P")).as("o_orderstatus"),
        cents(12, 1000.0, 499000).as("o_totalprice"),
        ntzDay(13, 9131, 2404).as("o_orderdate"),
        pick(14, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW")).as("o_orderpriority")),
      "lineitem" -> range(lineitemRows).select(
        (col("id") / 4).cast("long").as("l_orderkey"),
        u(15, parts).as("l_partkey"),
        u(16, suppliers).as("l_suppkey"),
        (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
        (u(17, 50) + 1).cast("double").as("l_quantity"),
        cents(18, 900.0, 104000).as("l_extendedprice"),
        (u(19, 11) / lit(100.0)).as("l_discount"),
        (u(20, 9) / lit(100.0)).as("l_tax"),
        pick(21, Seq("A", "N", "R")).as("l_returnflag"),
        pick(22, Seq("F", "O")).as("l_linestatus"),
        ntzDay(23, 9132, 2500).as("l_shipdate")),
      "events" -> range(events).select(col("id").as("event_id"),
        (lit(Timestamps.Jan2024Micros) + col("id") * lit(25000000L) +
          u(24, 20000000L)).as("__us"),
        u(25, math.max(10L, events / 60)).as("user_id"),
        pick(26, Seq("view", "click", "purchase", "signup", "error"))
          .as("event_type"),
        cents(27, 0.01, 500).as("value"),
        format_string("{\"k\": %d}", u(28, 100)).as("props"))
        .select(col("event_id"),
          timestamp_micros(col("__us")).cast("timestamp_ntz").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props")),
      "documents" -> range(docs).select(col("id").as("doc_id"),
          text(29, fixtureWords, 20, 90).as("text"),
          pick(30, Seq("en", "en", "en", "de", "fr", "es", "zh")).as("lang"),
          concat(lit("src"), u(31, 20).cast("string")).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    )
  }

  // ---- ingest -------------------------------------------------------

  /** A wide table with every column family the document transcoder
    * renders differently: nested struct / array / map, binary,
    * NaN and ±Infinity doubles, decimal, timestamp and strings heavy
    * in quotes, backslashes, control characters and non-ASCII.
    */
  def wideTable(rows: Long): DataFrame = {
    val nasty = Seq("plain", "quote\"d", "back\\slash", "tab\there",
      "new\nline", "cr\rreturn", "ctrl\u0001\u001f", "é-ñ-ü", "日本語",
      "emoji 😀", "slash/", "{\"json\": [1]}", "")
    val d = (u(40, 1000000) - lit(500000)) / lit(64.0)
    range(rows).select(col("id"),
      u(41, 1000).cast("int").as("qty"),
      when(u(42, 97) === 0, lit(Double.NaN))
        .when(u(42, 97) === 1, lit(Double.PositiveInfinity))
        .when(u(42, 97) === 2, lit(Double.NegativeInfinity))
        .otherwise(d).as("score"),
      (u(43, 100000000L) / lit(10000)).cast("decimal(18,4)").as("price"),
      timestamp_micros(lit(Timestamps.Jan2024Micros) +
        u(44, 10000000000L)).as("seen_at"),
      unhex(substring(sha2(concat(lit(seed.toString), col("id").cast("string")),
        256), lit(1), (u(45, 16) * 2 + 2).cast("int"))).as("blob"),
      concat(pick(46, nasty), lit(" "), pick(47, nasty), lit(" "),
        text(48, fixtureWords, 2, 8)).as("note"),
      struct(u(49, 10).cast("int").as("level"),
        pick(50, nasty).as("label"),
        struct(u(51, 100).cast("long").as("x"),
          d.as("y")).as("inner")).as("meta"),
      transform(sequence(lit(0L), u(52, 6)), i => pmod(xxhash64(lit(seed),
        col("id"), i), lit(1000L)).cast("int")).as("counts"),
      map_from_arrays(array(lit("a"), lit("b\"q"), lit("c\\d")),
        array(d, d * 2, lit(0.5))).as("weights"),
      wordArray(53, fixtureWords, 0, 4).as("tags"))
  }

  // ---- text corpora -------------------------------------------------

  /** Tokenizer corpus: lowercase ASCII text over the fixture words,
    * their compounds, numbers and punctuation.
    */
  def tokenizeCorpus(docs: Long): DataFrame = {
    val punct = Seq(",", ".", ";", ":", "!", "?", "(", ")", "-")
    range(docs, Gen.CorpusFiles).select(col("id").as("doc_id"),
      transform(sequence(lit(1L), (lit(40) + u(60, 81)).cast("long")), i => {
        val r = pmod(xxhash64(lit(seed), col("id"), lit(61), i), lit(100L))
        val w = element_at(array(corpusWords.map(lit): _*),
          (pmod(xxhash64(lit(seed), col("id"), lit(62), i),
            lit(corpusWords.size.toLong)) + 1).cast("int"))
        when(r < 6, pmod(xxhash64(lit(seed), col("id"), lit(63), i),
            lit(10000L)).cast("string"))
          .when(r < 12, concat(w, element_at(array(punct.map(lit): _*),
            (r - 5).cast("int"))))
          .otherwise(w)
      }).as("__w"))
      .select(col("doc_id"), array_join(col("__w"), " ").as("text"))
  }

  /** Near-duplicate corpus: `docs` documents of which `plantedShare`
    * are copies of an earlier original with roughly one word in
    * `1/mutateRate` replaced. Returns the corpus and the planted
    * (original, copy) pairs.
    */
  def dedupCorpus(docs: Long, plantedShare: Double, mutateRate: Int)
      : (DataFrame, DataFrame) = {
    val planted = math.round(docs * plantedShare)
    val originals = docs - planted
    val vocab = array(corpusWords.map(lit): _*)
    val orig = range(originals, Gen.CorpusFiles).select(col("id").as("doc_id"),
      wordArray(70, corpusWords, 40, 80).as("__w"))
    val copies = range(planted, Gen.CorpusFiles)
      .select((col("id") + lit(originals)).as("doc_id"),
        u(71, originals).as("src"))
      .join(orig.select(col("doc_id").as("src"), col("__w").as("__o")), "src")
      .select(col("doc_id"), col("src"),
        transform(col("__o"), (w, i) => when(
          pmod(xxhash64(lit(seed), col("doc_id"), lit(72), i),
            lit(mutateRate.toLong)) === 0,
          element_at(vocab, (pmod(xxhash64(lit(seed), col("doc_id"),
            lit(73), i), lit(corpusWords.size.toLong)) + 1).cast("int")))
          .otherwise(w)).as("__w"))
    val corpus = orig.unionByName(copies.drop("src"))
      .select(col("doc_id"), array_join(col("__w"), " ").as("text"))
    (corpus, copies.select(col("src").as("id1"), col("doc_id").as("id2")))
  }
}

object Gen {
  /** Corpora are written as this many files, so per-row kernels run in
    * parallel on any core count up to it.
    */
  val CorpusFiles = 8
}

object Timestamps {
  /** 2024-01-01T00:00:00Z in epoch microseconds. */
  val Jan2024Micros: Long = 1704067200000000L
}
