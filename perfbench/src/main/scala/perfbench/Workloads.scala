package perfbench

import java.util.concurrent.{Callable, Executors}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, CollectionManager, Graft}
import graft.io.ParquetLoader
import graft.operators.{Bpe, Chunking, ConnectedComponents, Dedup, WordPiece}
import graft.serde.JsonDocEncoder

/** One call into the system, counted as `items` input items. `probe`
  * runs right after the call in an untimed pass of traced runs
  * and returns extra counters for the call's span.
  */
final case class Op(span: String, label: String, items: Long,
    run: () => Unit, probe: () => Seq[(String, Double)] = () => Nil)

/** Input sizes. `full` is what the benchmark measures; `tiny` serves the
  * smoke test.
  */
final case class Sizes(lineitemRows: Long, wideRows: Long,
    queryLineitemRows: Long, tokenizeDocs: Long, cdcDocs: Long,
    dedupDocs: Long)

object Sizes {
  /** Words of each document that CDC segments. */
  val CdcWords = 16
  val full = Sizes(lineitemRows = 20000, wideRows = 2000,
    queryLineitemRows = 5000, tokenizeDocs = 1000, cdcDocs = 8,
    dedupDocs = 1000)
  val tiny = Sizes(lineitemRows = 2000, wideRows = 200,
    queryLineitemRows = 2000, tokenizeDocs = 100, cdcDocs = 2,
    dedupDocs = 200)
}

abstract class Workload(val spark: SparkSession) {
  def name: String
  /** Write inputs that every setup reads, once per run, untimed. */
  def prepare(dir: String): Unit = ()
  /** Prepare what the operations need under `dir` with the system's own
    * calls; timed, and repeated to report its median.
    */
  def setup(dir: String): Unit
  /** One pass of operations, in order. */
  def ops: Seq[Op]
  /** Run every operation once with its full result kept, and compare
    * each against what the inputs imply. Returns (checks made,
    * problems found). `corrupt` damages one output before comparing,
    * so a test can show the checks fail.
    */
  def check(corrupt: Boolean): (Int, Seq[String])
  /** Counters measured once per run, reported with the metrics. */
  def runCounters: Seq[(String, Double)] = Nil

  protected var base: String = _

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode(SaveMode.Overwrite).save()

  /** Materialise `df` and return its row count from the same job. */
  protected def noopCount(df: DataFrame): Long = {
    val obs = Observation()
    noop(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  protected def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  protected def fs(path: String) = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (data files, bytes) under `path`, recursively; hidden and
    * underscore-prefixed files excluded.
    */
  protected def files(path: String): (Long, Long) = {
    val p = new Path(path)
    if (!fs(path).exists(p)) return (0L, 0L)
    val it = fs(path).listFiles(p, true)
    var n = 0L
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith(".") && !name.startsWith("_")) {
        n += 1
        bytes += f.getLen
      }
    }
    (n, bytes)
  }

  /** Order-independent multiset fingerprint: (rows, sum of each row's
    * 64-bit hash).
    */
  protected def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), coalesce(
      sum(xxhash64(to_json(struct(col("*")))).cast("decimal(20,0)")),
      lit(0).cast("decimal(30,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  protected def damage(df: DataFrame, corrupt: Boolean): DataFrame =
    if (corrupt) df.exceptAll(df.limit(1)) else df

  protected def expect(what: String, ok: Boolean, detail: => String)
      : Seq[String] =
    if (ok) Nil else Seq(s"$name: $what ($detail)")

  /** Run independent checks on one thread per core, each in its own
    * operator-cache scope; a check that throws reports one problem.
    */
  protected def inParallel(checks: Seq[() => Seq[String]]): Seq[String] = {
    val pool = Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
    try checks.map(c => pool.submit(new Callable[Seq[String]] {
      def call(): Seq[String] =
        try CacheScope.scoped(c())
        catch { case e: Exception => Seq(s"$name: check failed: $e") }
    })).flatMap(_.get())
    finally pool.shutdown()
  }
}

/** Parquet → collection load at the reference's default batch size, with
  * overwrite then append; count; compact; the document encoder; and the
  * graft-docs sink and source on the wide table.
  */
final class Ingest(spark: SparkSession, gen: Gen, sizes: Sizes)
    extends Workload(spark) {
  val name = "ingest"
  private val loader = new ParquetLoader(spark)
  private val tables = Seq("lineitem", "wide")
  private val inputRows = Map("lineitem" -> sizes.lineitemRows,
    "wide" -> sizes.wideRows)
  private var inputDir: String = _
  private def input(t: String) = s"$inputDir/$t.parquet"
  private def db = new CollectionManager(spark, s"$base/db")
  private def docsDir = s"$base/docs/wide"
  private var lastFiles = Map.empty[String, (Long, Long)]
  private var storedBytesPerInputByte = 0.0

  override def prepare(dir: String): Unit = {
    inputDir = dir
    writeParquet(gen.queryTables(sizes.lineitemRows)("lineitem"),
      input("lineitem"))
    writeParquet(gen.wideTable(sizes.wideRows), input("wide"))
  }

  /** Every pass loads into a fresh database under `dir`. */
  def setup(dir: String): Unit = base = dir

  private def loadOp(t: String, overwrite: Boolean) = Op("io.load",
    s"$t ${if (overwrite) "overwrite" else "append"}", inputRows(t),
    () => loader.load(input(t), db.collection(t), overwrite),
    () => {
      val now = files(db.collection(t).path)
      val before = if (overwrite) (0L, 0L) else lastFiles.getOrElse(t, (0L, 0L))
      lastFiles += t -> now
      Seq("files_written" -> (now._1 - before._1).toDouble,
        "bytes_written" -> (now._2 - before._2).toDouble)
    })

  private def wide = spark.read.parquet(input("wide"))
  private def encoded = JsonDocEncoder.encode(wide, quirkCompat = true)

  def ops: Seq[Op] = tables.flatMap(t =>
      Seq(loadOp(t, overwrite = true), loadOp(t, overwrite = false))) ++
    tables.map(t => Op("core.count", t, 2 * inputRows(t),
      () => db.collection(t).count())) ++
    tables.map { t =>
      var filesBeforeAfter = (0, 0)
      Op("core.compact", t, 2 * inputRows(t),
        () => filesBeforeAfter = db.collection(t).compact(),
        () => Seq("files_before" -> filesBeforeAfter._1.toDouble,
          "files_after" -> filesBeforeAfter._2.toDouble))
    } ++ Seq(
      Op("serde.encode", "wide quirk json", inputRows("wide"),
        () => noop(encoded),
        () => Seq("json_bytes" -> encoded.agg(sum(length(col("doc"))))
          .head().getLong(0).toDouble)),
      Op("sources.docs_write", "wide", inputRows("wide"),
        () => wide.write.format("graft-docs").mode(SaveMode.Overwrite)
          .option("path", docsDir).save(),
        () => Seq("files" -> files(docsDir)._1.toDouble)),
      Op("sources.docs_read", "wide", inputRows("wide"),
        () => noop(spark.read.format("graft-docs").load(docsDir))))

  /** The JSON-level shape of each wide column as the quirk encoder
    * writes it: binary as `{"bytes": latin-1 text}`, timestamps as
    * epoch microseconds.
    */
  private def jsonShaped(df: DataFrame): DataFrame = df.select(
    df.columns.toSeq.map {
      case "blob" => struct(decode(col("blob"), "ISO-8859-1").as("bytes"))
        .as("blob")
      case "seen_at" => unix_micros(col("seen_at")).as("seen_at")
      case c => col(c)
    }: _*)

  /** Loads, appends and compacts one table; returns its problems and
    * (stored bytes after the append, input bytes loaded).
    */
  private def checkTable(t: String, corrupt: Boolean)
      : (Seq[String], (Long, Long)) = {
    val c = db.collection(t)
    val n = inputRows(t)
    val loaded = Seq(loader.load(input(t), c, overwriteCollection = true),
      loader.load(input(t), c))
    val bytes = (files(c.path)._2, 2 * files(input(t))._2)
    val (rows, hashes) = fingerprint(spark.read.parquet(input(t)))
    val twice = (2 * rows, 2 * hashes)
    val back = fingerprint(damage(c.read(), corrupt && t == "lineitem"))
    c.compact()
    val compacted = fingerprint(c.read())
    (expect(s"$t loads report every input row", loaded.forall(_ == n),
        s"loaded ${loaded.mkString(" + ")} of $n each") ++
      expect(s"$t collection holds the input twice after overwrite + append",
        back == twice, s"$back vs $twice") ++
      expect(s"$t compact keeps every row", compacted == twice,
        s"$compacted vs $twice"), bytes)
  }

  def check(corrupt: Boolean): (Int, Seq[String]) = {
    val sizes = Array.fill(tables.size)((0L, 0L))
    val problems = inParallel(tables.zipWithIndex.map { case (t, i) => () =>
      val (p, b) = checkTable(t, corrupt)
      sizes(i) = b
      p
    } :+ (() => {
      val want = jsonShaped(wide)
      wide.write.format("graft-docs").mode(SaveMode.Overwrite)
        .option("path", docsDir).save()
      val back = fingerprint(
        spark.read.schema(want.schema).format("graft-docs").load(docsDir))
      expect("graft-docs read-back equals the input",
        back == fingerprint(want), s"$back vs ${fingerprint(want)}")
    }))
    storedBytesPerInputByte = sizes.map(_._1).sum.toDouble / sizes.map(_._2).sum
    (7, problems)
  }

  override def runCounters: Seq[(String, Double)] =
    Seq("stored_bytes_per_input_byte" -> storedBytesPerInputByte)
}

/** The 41 relational `q*` queries over collections written by the
  * loader, in a seed-shuffled order. Results are checked against the
  * DuckDB oracle by the launcher.
  */
final class Query(spark: SparkSession, gen: Gen, sizes: Sizes, seed: Long)
    extends Workload(spark) {
  val name = "query"
  val names: Seq[String] = new scala.util.Random(seed).shuffle(
    graft.SparkEntry.queries.keys.filter(_.matches("q[0-9]+_.*")).toSeq.sorted)
  private def db = s"$base/db"
  private var inputDir: String = _
  private val tables = gen.queryTables(sizes.queryLineitemRows)

  override def prepare(dir: String): Unit = {
    inputDir = dir
    for ((t, df) <- tables) writeParquet(df, s"$inputDir/$t.parquet")
  }

  /** Load every input table into a collection named like its file. */
  def setup(dir: String): Unit = {
    base = dir
    val mgr = new CollectionManager(spark, db)
    for (t <- tables.keys)
      new ParquetLoader(spark).load(s"$inputDir/$t.parquet",
        mgr.collection(s"$t.parquet"), overwriteCollection = true)
  }

  def ops: Seq[Op] = names.map(q => Op("queries.q", q, 1,
    () => noop(graft.SparkEntry.queries(q)(spark, db))))

  /** Writes every result as parquet, the oracle SQL as JSON and the
    * input directory's path for the launcher's DuckDB comparison; a
    * query that fails to run is a problem here.
    */
  def check(corrupt: Boolean): (Int, Seq[String]) = {
    val problems = inParallel(names.map { q => () =>
      try {
        writeParquet(damage(graft.SparkEntry.queries(q)(spark, db),
          corrupt && q == names.head), s"$base/results/$q")
        Nil
      } catch {
        case e: Exception => Seq(s"query: $q failed: ${e.getMessage}")
      }
    })
    val oracle = names.map(q =>
      s"${Json.str(q)}: ${Json.str(graft.SparkEntry.oracleSql(q))}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/oracle_sql.json"),
      oracle.mkString("{", ",\n", "}").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/inputs"),
      inputDir.getBytes("UTF-8"))
    (0, problems)
  }
}

/** Per-row text kernels: content-defined segment dedup, token windows
  * with source spans, and byte-level BPE / WordPiece encode with
  * offsets, under tokenizers trained in setup.
  */
final class Tokenize(spark: SparkSession, gen: Gen, sizes: Sizes)
    extends Workload(spark) {
  val name = "tokenize"
  private var bpe: Bpe.BpeTokenizer = _
  private var wp: WordPiece.WordPieceTokenizer = _
  private def docs = spark.read.parquet(s"$inputDir/corpus.parquet")
  private var inputDir: String = _
  /** CDC's cost grows steeply with document length, so it segments
    * short prefixes of a few documents and does not set the pass length.
    */
  private def cdcDocs = docs
    .filter(col("doc_id") % (sizes.tokenizeDocs / sizes.cdcDocs) === 0)
    .select(col("doc_id"), array_join(slice(split(col("text"), " "), 1,
      Sizes.CdcWords), " ").as("text"))

  override def prepare(dir: String): Unit = {
    inputDir = dir
    writeParquet(gen.tokenizeCorpus(sizes.tokenizeDocs),
      s"$inputDir/corpus.parquet")
  }

  /** Train the byte-level BPE and WordPiece tokenizers on the corpus. */
  def setup(dir: String): Unit = {
    val merges = Bpe.trainBytes(docs, "text", numMerges = 200,
      tokenPattern = graft.functions.TextFunctions.bpeByteLevelGpt2Pattern)
    bpe = Bpe.BpeTokenizer(merges, Bpe.vocabBytes(merges), needsNfc = false,
      addPrefixSpace = false, prefixIds = Nil, suffixIds = Nil)
    wp = WordPiece.train(docs, "text", vocabSize = 500)
  }

  private def cdc = Chunking.dedupSegmentsCdc(cdcDocs, "doc_id", "text",
    window = 4, avgLen = 12)
  private def windows = Chunking.tokenWindowSpans(docs, "doc_id", "text", wp,
    width = 16, stride = 8)
  private def bpeOffsets = Bpe.encodeWithOffsets(docs, "doc_id", "text", bpe)
  private def wpOffsets = WordPiece.encodeWithOffsets(docs, "doc_id", "text", wp)

  def ops: Seq[Op] = Seq(
    Op("operators.cdc", "dedupSegmentsCdc", sizes.cdcDocs, () => noop(cdc)),
    Op("operators.windows", "tokenWindowSpans", sizes.tokenizeDocs,
      () => noop(windows)),
    Op("operators.bpe_offsets", "Bpe.encodeWithOffsets", sizes.tokenizeDocs,
      () => noop(bpeOffsets)),
    Op("operators.wordpiece_offsets", "WordPiece.encodeWithOffsets",
      sizes.tokenizeDocs, () => noop(wpOffsets)))

  /** (token string, slice of the text at the token's span) per token. */
  private def slices(enc: DataFrame, vocab: Seq[(String, Long)]) = {
    val byId = vocab.map(_.swap).toMap
    enc.join(docs, "doc_id")
      .select(col("text"), explode(col("tokens")).as("t"))
      .select(col("t.id"),
        expr("substring(text, t.start + 1, t.end - t.start)"))
      .collect().map(r => (byId.getOrElse(r.getLong(0), "?"), r.getString(1)))
  }

  def check(corrupt: Boolean): (Int, Seq[String]) = (4, inParallel(Seq(
    () => {
      val enc = if (!corrupt) bpeOffsets else bpeOffsets.withColumn("tokens",
        expr("transform(tokens, t -> named_struct('id', t.id, " +
          "'start', t.start + 1, 'end', t.end + 1))"))
      val bad = slices(enc, bpe.vocab).filter { case (tok, slice) =>
        graft.expressions.ByteUnicode.remap(slice) != tok }
      expect("BPE offsets slice back to the token bytes", bad.isEmpty,
        s"${bad.length} tokens, first ${bad.headOption}")
    },
    () => {
      val unk = wp.vocab.find(_._2 == wp.unkId).map(_._1).getOrElse("")
      val bad = slices(wpOffsets, wp.vocab).filter { case (tok, slice) =>
        tok != unk && tok.stripPrefix(wp.contPrefix) != slice }
      expect("WordPiece offsets slice back to the token text", bad.isEmpty,
        s"${bad.length} tokens, first ${bad.headOption}")
    },
    () => {
      val bad = windows.join(docs, "doc_id")
        .filter(expr("substring(text, char_start + 1, char_end - char_start)" +
          " != chunk_text")).count()
      expect("token windows' spans re-extract their text", bad == 0,
        s"$bad windows differ")
    },
    () => {
      // every document is segmented, at most all its segments are kept,
      // and kept text holds only the document's own tokens
      val docs = cdcDocs.count()
      val out = cdc.join(cdcDocs, "doc_id")
      val bad = out.filter(col("n_segments") < 1 ||
          col("n_kept") > col("n_segments") ||
          size(array_except(split(col("kept_text"), " "),
            graft.functions.TextFunctions.tokens(col("text")))) > 0).count()
      val rows = out.count()
      expect("CDC segments every document into its own tokens",
        bad == 0 && rows == docs, s"$bad bad of $rows rows for $docs docs")
    })))
}

/** Near-duplicate pair finding (LSH candidates, MinHash-LSH verified,
  * exact shingle Jaccard, winnowed character k-grams) and connected
  * components over the verified pairs, on a corpus with planted
  * near-duplicates.
  */
final class NearDup(spark: SparkSession, gen: Gen, sizes: Sizes)
    extends Workload(spark) {
  val name = "dedup"
  val plantedShare = 0.2
  val threshold = 0.6
  val winnowThreshold = 0.5
  private var inputDir: String = _
  private def corpus = spark.read.parquet(s"$inputDir/corpus.parquet")
  private def planted = spark.read.parquet(s"$inputDir/planted.parquet")
  private def pairsPath = s"$inputDir/pairs.parquet"
  private def sig = Dedup.withMinHashSignature(corpus, "text", k = 3,
    numHashes = 64)
  private var lshRows = 0L
  private var verified = 0L
  private var verifySideBytes = 0.0
  private var plantedAboveThreshold = 0L

  override def prepare(dir: String): Unit = {
    inputDir = dir
    val (docs, pairs) = gen.dedupCorpus(sizes.dedupDocs, plantedShare,
      mutateRate = 30)
    writeParquet(docs.repartition(Gen.CorpusFiles, col("doc_id")),
      s"$inputDir/corpus.parquet")
    writeParquet(pairs.coalesce(1), s"$inputDir/planted.parquet")
  }

  /** The pipeline reads the prepared corpus as it is. */
  def setup(dir: String): Unit = ()

  private def lsh = Dedup.lshCandidatePairs(sig, "doc_id", 64, 16)
  private def minhash = Dedup.minHashPairs(corpus, "doc_id", "text", 3, 64,
    16, threshold)
  private def jaccard = Dedup.jaccardShinglePairs(corpus, "doc_id", "text", 3,
    threshold)
  private def winnow = Dedup.winnowedKgramPairs(corpus, "doc_id", "text",
    k = 20, window = 16, threshold = winnowThreshold)
  private def clusters = ConnectedComponents.clusters(
    spark.read.parquet(pairsPath), "id1", "id2")

  def ops: Seq[Op] = Seq(
    Op("operators.lsh_candidates", "lshCandidatePairs", sizes.dedupDocs,
      () => lshRows = noopCount(lsh),
      () => Seq("rows_out" -> lshRows.toDouble,
        "bucket_overflow" -> Dedup.lshBucketOverflow(sig, "doc_id", 64, 16)
          .count().toDouble)),
    Op("operators.minhash_pairs", "minHashPairs", sizes.dedupDocs,
      () => verified = noopCount(minhash),
      () => Seq("candidates" -> lshRows.toDouble,
        "verified_per_candidate" ->
          (if (lshRows > 0) verified.toDouble / lshRows else 0.0))),
    Op("operators.jaccard_pairs", "jaccardShinglePairs", sizes.dedupDocs,
      () => noop(jaccard)),
    Op("operators.winnow_pairs", "winnowedKgramPairs", sizes.dedupDocs,
      () => noop(winnow)),
    Op("operators.clusters", "ConnectedComponents.clusters", sizes.dedupDocs,
      () => noop(clusters)))

  /** Planted pairs with their exact word-3-shingle and character-20-gram
    * Jaccard, computed here from the texts.
    */
  private def plantedJaccard: DataFrame = {
    val sets = corpus.select(col("doc_id"),
      graft.expressions.GraftFunctions.wordShingles(col("text"), 3).as("w"),
      array_distinct(expr("transform(sequence(1, length(text) - 19), " +
        "i -> substring(text, i, 20))")).as("c"))
    def j(a: String, b: String) =
      size(array_intersect(col(a), col(b))) / size(array_union(col(a), col(b)))
    planted.join(sets.select(col("doc_id").as("id1"), col("w").as("w1"),
        col("c").as("c1")), "id1")
      .join(sets.select(col("doc_id").as("id2"), col("w").as("w2"),
        col("c").as("c2")), "id2")
      .select(col("id1"), col("id2"), j("w1", "w2").as("jw"),
        j("c1", "c2").as("jc"))
  }

  def check(corrupt: Boolean): (Int, Seq[String]) = {
    val pj = plantedJaccard.cache()
    /** Planted pairs meeting `cond` that `found` lacks. */
    def missing(found: DataFrame, cond: Column): Long =
      pj.filter(cond).select("id1", "id2")
        .exceptAll(found.select("id1", "id2")).count()
    // LSH with 16 bands of 4 rows misses a pair at J = 0.9 with
    // probability (1 - 0.9^4)^16 < 1e-7
    val strong = col("jw") >= 0.9
    val problems = inParallel(Seq(
      () => {
        val m = missing(lsh, strong)
        expect("LSH candidates hold every planted pair at J >= 0.9", m == 0,
          s"$m missing")
      },
      () => {
        val m = missing(minhash, strong)
        expect("MinHash pairs hold every planted pair at J >= 0.9", m == 0,
          s"$m missing")
      },
      () => {
        val m = missing(winnow, col("jc") >= winnowThreshold)
        expect("winnowed pairs hold every planted pair at character " +
          s"J >= $winnowThreshold", m == 0, s"$m missing")
      },
      () => {
        // the damage drops a planted pair the check must find
        val victim = jaccard.join(pj.filter(col("jw") >= threshold)
          .select("id1", "id2"), Seq("id1", "id2"))
          .select(jaccard.columns.map(col): _*).orderBy("id1", "id2").limit(1)
        writeParquet(if (corrupt) jaccard.exceptAll(victim) else jaccard,
          pairsPath)
        val m = missing(spark.read.parquet(pairsPath), col("jw") >= threshold)
        val labels = clusters
        val split = pj.filter(col("jw") >= threshold)
          .join(labels.select(col("id").as("id1"), col("label").as("l1")), "id1")
          .join(labels.select(col("id").as("id2"), col("label").as("l2")), "id2")
          .filter(col("l1") =!= col("l2")).count()
        expect(s"exact Jaccard holds every planted pair at J >= $threshold",
          m == 0, s"$m missing") ++
          expect("each verified planted pair shares a cluster", split == 0,
            s"$split split")
      },
      () => {
        plantedAboveThreshold = pj.filter(col("jw") >= threshold).count()
        val sets = corpus.select(col("doc_id").as("id"),
          graft.expressions.GraftFunctions.wordShingles(col("text"), 3)
            .as("sh")).withColumn("n", size(col("sh"))).cache()
        sets.count()
        verifySideBytes = Graft.estimatedBytes(sets).toDouble
        sets.unpersist()
        Nil
      }))
    pj.unpersist()
    (5, problems)
  }

  override def runCounters: Seq[(String, Double)] = Seq(
    "verify_side_bytes" -> verifySideBytes,
    "verify_gate_bytes" -> Dedup.VerifyBroadcastMaxBytes.toDouble,
    "planted_share" -> plantedShare,
    "planted_pairs_above_threshold" -> plantedAboveThreshold.toDouble)
}

/** Workloads run one after another as one: one setup, one pass and one
  * check covering all of them. The parts' checks run concurrently.
  */
final class Composite(val name: String, parts: Seq[Workload])
    extends Workload(parts.head.spark) {
  override def prepare(dir: String): Unit =
    parts.foreach(p => p.prepare(s"$dir/${p.name}"))
  def setup(dir: String): Unit = parts.foreach(p => p.setup(s"$dir/${p.name}"))
  def ops: Seq[Op] = parts.flatMap(_.ops)
  def check(corrupt: Boolean): (Int, Seq[String]) = {
    val pool = Executors.newFixedThreadPool(parts.size)
    try {
      val results = parts.map(p => pool.submit(new Callable[(Int, Seq[String])] {
        def call(): (Int, Seq[String]) = CacheScope.scoped(p.check(corrupt))
      })).map(_.get())
      (results.map(_._1).sum, results.flatMap(_._2))
    } finally pool.shutdown()
  }
  override def runCounters: Seq[(String, Double)] = parts.flatMap(_.runCounters)
}

/** Minimal JSON string quoting. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
