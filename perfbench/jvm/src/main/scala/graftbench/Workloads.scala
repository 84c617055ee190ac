package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.Dictionaries
import graft.functions.{text => T}
import graft.sources.{ManifestStore, Tables}
import graft.streaming.{EventStream, FrontierState}

/** One workload: a fixed sequence of operations that a pass runs in order. */
trait Workload {
  /** Operation names of one pass, in order. */
  def ops: Seq[String]
  /** Catalog entries whose oracle SQL checks this workload's outputs. */
  def oracles: Seq[String]
  /** Input preparation; part of no metric. */
  def prepareInputs(): Unit = ()
  /** Set-up work the first operation needs; timed, repeated, median taken. */
  def setup(): Unit = ()
  /** Untimed reset before pass `pass`. */
  def beginPass(pass: Int): Unit = ()
  /** Operation `i` of pass `pass`; timed in parts through `part`. */
  def run(i: Int, pass: Int, part: Part): Unit
  /** Untimed: write the pass's checked outputs; returns (oracle, path) pairs
    * that cover the whole pass. */
  def endPass(pass: Int): Seq[(String, String)] = Nil
  /** Untimed: (oracle, path) checking operation `i` of pass `pass`. */
  def outputOf(i: Int, pass: Int): Option[(String, String)] = None
  /** Extra per-operation numbers of a traced run (bytes fed, ...). */
  def opExtras(i: Int): Map[String, Double] = Map.empty
  /** Extra per-pass numbers of a traced run, measured after the pass. */
  def passExtras(pass: Int): Map[String, Double] = Map.empty
}

/** Times the parts of one operation. */
trait Part { def apply[A](name: String)(body: => A): A }

/** Catalog entries in a fixed order. An operation builds the entry's
  * DataFrame (`run`: Q.run, including any eager driver-side work) and
  * writes its result as parquet (`action`), which the oracle check reads. */
final class CatalogWorkload(spark: SparkSession, data: String, out: String,
    names: Seq[String]) extends Workload {
  private val entries = names.map(n => graft.queries.Catalog.byName.getOrElse(n,
    throw new IllegalArgumentException(s"no catalog entry named $n")))
  def ops: Seq[String] = names
  def oracles: Seq[String] = names
  private def path(i: Int, pass: Int) = s"$out/outputs/${names(i)}/p$pass"
  def run(i: Int, pass: Int, part: Part): Unit = {
    val df = part("run")(entries(i).run(spark, data))
    part("action")(df.write.mode("overwrite").parquet(path(i, pass)))
  }
  override def outputOf(i: Int, pass: Int): Option[(String, String)] =
    Some(names(i) -> path(i, pass))
}

/**
 * Incremental corpus admission with publish. Set-up builds the curated
 * store (every document with doc_id % 5 != 4) and its persisted minhash
 * signature index. A pass replays the new crawl drop as `nTriggers`
 * doc_id-range slices in arrival order; each trigger runs the admission
 * body (`EventStream.corpusAdmissionBatch`) on its slice of the new drop,
 * the intake body (`EventStream.crawlIntakeBatch`, which publishes a
 * ManifestStore version) on its slice of the crawl, and reads the
 * published head back. After each pass the served results are written
 * for the `s26_stream_admission` and `p8_stream_corpus` oracles: both
 * entries' cut contract is doc_id-range slices in arrival order, so any
 * number of such slices must reproduce them exactly.
 */
final class StreamWorkload(spark: SparkSession, data: String, out: String,
    slices: String, nTriggers: Int) extends Workload {
  private val stops = Dictionaries.stopwordsEn
  private val minQuality = 0.35 // the p7/p8/s26 quality gate
  private val storeRoot = s"$out/store"
  private val streamRoot = s"$out/stream"
  private val admitState = s"$streamRoot/admit/state"
  private val intakeState = s"$streamRoot/intake/state"
  private val corpusRoot = s"$streamRoot/intake/corpus"
  private def slicePath(kind: String, i: Int) = s"$slices/$kind/t$i"
  private val sliceBytes = Array.fill(nTriggers)(0L)
  private var lastCount = 0L

  def ops: Seq[String] = (0 until nTriggers).map(i => f"trigger_$i%03d")
  def oracles: Seq[String] = Seq("s26_stream_admission", "p8_stream_corpus")

  private def fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
  private def rm(p: String): Unit = fs.delete(new org.apache.hadoop.fs.Path(p), true)

  /** Each document's crawl url in four spellings by doc_id % 4, its
    * canonical form and registered domain (Catalog's canonUrlsWith). */
  private def canonUrls(k: Column): DataFrame = {
    val url = when(col("doc_id") % 4 === 0,
        concat(lit("https://www."), col("source"), lit(".com/"),
          col("lang"), lit("/page"), k, lit("?b=2&a=1")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("HTTPS://WWW."), upper(col("source")), lit(".COM:443/"),
          col("lang"), lit("/page"), k, lit("/?a=1&b=2")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://www."), col("source"), lit(".com/"),
          col("lang"), lit("/page"), k, lit("?a=1&b=2#frag")))
      .otherwise(
        concat(lit("https://"), col("source"), lit(".com/"),
          col("lang"), lit("/page"), k, lit("?b=2&a=1")))
    Tables.documents(spark, data)
      .select(col("doc_id"), col("text"), url.as("url"))
      .withColumn("curl", T.canonicalizeUrl(col("url")))
      .withColumn("domain", T.registeredDomain(col("curl")))
  }

  /** The p7/s26 staged frame: canonical-urled docs whose doc_id % 10 == 4
    * rows are planted near-copies of the doc_id - 4 neighbour. */
  private def staged: DataFrame = {
    val cu = canonUrls((col("doc_id") % 20).cast("string"))
    val base = Tables.documents(spark, data)
      .select((col("doc_id") + 4).as("doc_id"), T.normKey(col("text")).as("bt"))
    cu.join(base, Seq("doc_id"), "left")
      .select(col("doc_id"), col("domain"), col("curl"),
        when(col("doc_id") % 10 === 4 && col("bt").isNotNull,
          concat(col("bt"), lit(" extraword")))
          .otherwise(T.normKey(col("text"))).as("t"))
  }

  /** The corpus near-dup rate is measured on: the staged text. */
  def dedupPanel: DataFrame = staged.select(col("doc_id").as("id"), col("t"))

  /** Reads the sizes of the trigger slices `writeSlices` wrote. */
  override def prepareInputs(): Unit = {
    require(Files.exists(Paths.get(slices, "_COMPLETE")), s"no trigger slices in $slices")
    (0 until nTriggers).foreach { i =>
      sliceBytes(i) = Seq("admit", "intake").map(k => dirBytes(slicePath(k, i), dataOnly = true)).sum
    }
  }

  /** Writes the trigger slices into `slices` with the engine's own url and
    * text functions. Each slice is one parquet file sorted by doc_id, so its
    * bytes depend only on the engine and the documents' contents, which
    * every seeded variant shares (a variant permutes rows). */
  def writeSlices(): Unit = {
    val nDocs = Tables.documents(spark, data).agg(max(col("doc_id"))).head.getLong(0) + 1
    // p8's page key: a third of the corpus per band, so later slices both
    // discover new urls and re-fetch old ones
    val band = expr(s"doc_id * 3 div $nDocs")
    val pageKey = when(col("doc_id") % 7 === 3, col("doc_id") % 20)
      .otherwise(band * 100 + col("doc_id") % 20).cast("string")
    val crawl = canonUrls(pageKey).select("doc_id", "text", "curl", "domain").persist()
    val drop = staged.filter(col("doc_id") % 5 === 4).persist()
    (0 until nTriggers).foreach { i =>
      val (lo, hi) = (nDocs * i / nTriggers, nDocs * (i + 1) / nTriggers)
      def cut(df: DataFrame) = df.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).sortWithinPartitions("doc_id")
      cut(drop).write.mode("overwrite").parquet(slicePath("admit", i))
      cut(crawl).write.mode("overwrite").parquet(slicePath("intake", i))
    }
    crawl.unpersist(); drop.unpersist()
    Files.createFile(Paths.get(slices, "_COMPLETE"))
  }

  override def setup(): Unit = {
    rm(storeRoot)
    staged.filter(col("doc_id") % 5 =!= 4).write.parquet(s"$storeRoot/docs")
    graft.operators.Dedup.minhashSignature(
      spark.read.parquet(s"$storeRoot/docs").select(col("doc_id").as("id"), col("t")),
      "id", "t", shingleN = 3, k = 16)
      .write.parquet(s"$storeRoot/sig")
  }

  override def beginPass(pass: Int): Unit = { rm(streamRoot); lastCount = 0L }

  def run(i: Int, pass: Int, part: Part): Unit = {
    val admit = EventStream.corpusAdmissionBatch(admitState, s"$storeRoot/docs",
      s"$storeRoot/sig", shingleN = 3, k = 16, bands = 4, threshold = 0.8,
      maxBucket = 1000, stops, minQuality) _
    val intake = EventStream.crawlIntakeBatch(intakeState, corpusRoot, 16,
      Dictionaries.langMarkers, stops, minQuality) _
    part("admit")(admit(spark.read.parquet(slicePath("admit", i)), i.toLong))
    part("intake")(intake(spark.read.parquet(slicePath("intake", i)), i.toLong))
    val n = part("read") {
      val head = ManifestStore.listVersions(spark, corpusRoot).lastOption
      require(head.contains(FrontierState.version(i)),
        s"trigger $i must publish ${FrontierState.version(i)}, head is $head")
      ManifestStore.readVersion(spark, corpusRoot, head.get,
        EventStream.crawlCorpusSchema).count()
    }
    require(n > lastCount, s"trigger $i must admit documents: head has $n rows after $lastCount")
    lastCount = n
  }

  override def endPass(pass: Int): Seq[(String, String)] = {
    val last = nTriggers - 1L
    val corpus = ManifestStore.readVersion(spark, corpusRoot,
      FrontierState.version(last), EventStream.crawlCorpusSchema)
    val seen = FrontierState.read(spark, s"$intakeState/seen", last,
      EventStream.crawlFrontierSchema)
    val p8 = seen.groupBy("domain")
      .agg(sum(col("n_total")).as("n_fetched"), count(lit(1)).as("n_unique"))
      .join(corpus.groupBy("domain").agg(count(lit(1)).as("n_admitted"),
        sum(col("n_tokens")).as("n_tokens")), Seq("domain"), "left")
      .select(col("domain"), col("n_fetched"), col("n_unique"),
        coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    val ledgers = spark.read
      .schema(EventStream.admissionLedgerSchema + ", trig INT")
      .parquet(s"$admitState/ledger")
    require(ledgers.select("trig").distinct().count() == nTriggers,
      s"each of the $nTriggers triggers must write a funnel ledger")
    val s26 = ledgers.groupBy("domain").agg(
      sum(col("n_new")).as("n_new"), sum(col("n_fresh")).as("n_fresh"),
      sum(col("n_novel")).as("n_novel"), sum(col("n_admitted")).as("n_admitted"),
      sum(col("n_tokens")).as("n_tokens"))
    Seq("p8_stream_corpus" -> p8, "s26_stream_admission" -> s26).map { case (name, df) =>
      val p = s"$out/outputs/$name/p$pass"
      df.write.mode("overwrite").parquet(p)
      name -> p
    }
  }

  override def opExtras(i: Int): Map[String, Double] = Map("slice_bytes" -> sliceBytes(i).toDouble)

  /** Store bytes on disk under the published corpus, and the bytes of the
    * data files its head version references. */
  override def passExtras(pass: Int): Map[String, Double] = {
    val head = FrontierState.version(nTriggers - 1L)
    val headBytes = ManifestStore.readManifest(spark, corpusRoot, head)
      .map(f => Files.size(Paths.get(s"$corpusRoot/data/$f"))).sum
    Map("store_bytes" -> dirBytes(corpusRoot, dataOnly = false).toDouble,
      "head_bytes" -> headBytes.toDouble)
  }

  private def dirBytes(dir: String, dataOnly: Boolean): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(p => Files.isRegularFile(p) &&
        (!dataOnly || p.getFileName.toString.endsWith(".parquet")))
      .mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }
}
