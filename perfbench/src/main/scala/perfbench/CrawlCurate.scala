package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.{RobotsFns, TextFns, UrlFns}
import graft.operators.{BloomPrune, Bpe, Dedup, Layout, Packing, Robots, SuffixArray, Wet}
import graft.sources.LakeCatalog

/** `crawl-curate`: a seed-selected subset of the test data's sf0.1
  * `documents` table, laid out as a test-data directory
  * (`documents.parquet`). One cycle runs, on the whole subset:
  *  - `ingest` = bytes → shards in the shape of q199: WARC/HTTP/charset/
  *    HTML decode to WET text, URL canonicalization, robots gate, scrub
  *    and quality gate, exact + LSH near-dup removal, decontamination,
  *    packing, mixture schedule and range shards, appended to a lake
  *    table;
  *  - `read` = BPE merge training (q157 shape, a driver-round loop),
  *    three times per cycle;
  *  - `apply` = suffix-array duplicate-span removal (q171/q174 shape,
  *    prefix-doubling rounds).
  * The outputs are checked against the DuckDB oracles registered for
  * q199, q157, q171 and q174 in [[SparkEntry.oracleSql]]. */
final class CrawlCurate(ctx: Ctx) extends Workload {
  val NDocs = 1000
  /** The warm-up runs [[WarmCycles]] cycles on a disjoint corpus of the
    * measured corpus's size, so it plans (and compiles) what the
    * measured cycles do; after one, the first measured cycle still ran
    * ~15 % slower. */
  val WarmDocs = 1000
  val WarmCycles = 2
  val minCycles = 2
  val maxCycles = Int.MaxValue
  // the q199/q157/q171/q174 parameters
  private val DenyTerms = Seq("customer", "supplier")
  private val ScrubToken = "<ent>"
  private val CurateMinTokens = 30
  private val StopWords = Seq("the", "a", "of", "and")
  private val ShingleN = 3
  private val NumHashes = 16
  private val NumBands = 4
  private val RowsPerBand = 4
  private val NearDupJ = 0.8
  private val ContamMinShared = 5
  private val PackBudget = 10000L
  private val NumShards = 8
  private val BpeMerges = 6
  private val SaCap = 32
  private val SaDupMin = 16
  private val RobotsTxt = "User-agent: *\nDisallow: /d/*3?\nAllow: /d/\n"
  val checked = Seq("q199_bytes_to_shards", "q157_bpe_train", "q171_suffix_array",
    "q174_sa_span_removal")

  private lazy val docsPath = ctx.path("check/documents.parquet")
  private lazy val warmPath = ctx.path("in/warm/documents.parquet")
  private var wh = ""
  private var lastTable = ""
  private var lastRoot = ""
  private var lastMerges: Seq[(Int, String, String, Long)] = Nil

  /** The sf0.1 `documents` table of the test data (5000 rows), bundled
    * with the benchmark. */
  private lazy val bundled = new java.io.File(ctx.data, "corpus/documents.parquet").getPath

  /** The seed's two disjoint subsets of the bundled corpus: [[NDocs]]
    * measured documents and [[WarmDocs]] warm-up documents, each in
    * `doc_id` order. */
  def corpus(spark: SparkSession): (Seq[(Long, String, String, String, Long)],
      Seq[(Long, String, String, String, Long)]) = {
    import spark.implicits._
    val all = spark.read.parquet(bundled)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .as[(Long, String, String, String, Long)].collect().sortBy(_._1).toSeq
    val order = new java.util.ArrayList[Int]((all.indices: Seq[Int]).asJava)
    java.util.Collections.shuffle(order, new java.util.Random(ctx.seed))
    val pick = order.asScala.toSeq
    (pick.take(NDocs).sorted.map(all), pick.slice(NDocs, NDocs + WarmDocs).sorted.map(all))
  }

  def generate(spark: SparkSession): Unit = {
    val (docs, warm) = corpus(spark)
    Seq(docsPath -> docs, warmPath -> warm).foreach { case (path, rows) =>
      spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(path)
    }
  }

  def bootstrap(spark: SparkSession, rep: Int): Unit = {
    wh = ctx.dir(s"lake$rep").getAbsolutePath
    spark.conf.set("spark.sql.catalog.graft", classOf[LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db"): Unit
  }

  def warmUp(spark: SparkSession): Unit =
    (0 until WarmCycles).foreach(i => runCycle(spark, s"warm$i", warmPath, new OpLog))

  def cycle(spark: SparkSession, i: Int, log: OpLog): Unit = {
    runCycle(spark, s"shards$i", docsPath, log)
  }

  private def runCycle(spark: SparkSession, name: String, path: String, log: OpLog): Unit = {
    import spark.implicits._
    val tr = ctx.tr
    val table = s"graft.db.$name"
    val root = s"$wh/db/$name"
    spark.sql(s"""CREATE TABLE $table (source STRING, chunk_id BIGINT, n_spans BIGINT,
      n_carried BIGINT, chunk_tokens BIGINT, sched_vt DOUBLE, shard BIGINT)
      USING `graft-lake` TBLPROPERTIES ('statsCol'='chunk_id')"""): Unit
    // the previous cycle's memoized suffix array is released here, so the
    // last cycle's survives for the output checks
    SuffixArray.releaseSuffixArrays(spark)
    Dedup.releasePostingIndexes(spark)
    val docs = spark.read.parquet(path)
    log.time("ingest") {
      val out = shards(spark, docs)
      Lake.append(tr, out.select(col("source"), col("chunk_id").cast("long"),
        col("n_spans").cast("long"), col("n_carried").cast("long"),
        col("chunk_tokens").cast("long"), col("sched_vt").cast("double"),
        col("shard").cast("long")), table, root)
      true
    }
    // BPE training is short, and the first of a cycle runs slower; three
    // per cycle put the read median among the steady ones
    for (_ <- 0 until 3) log.time("read") {
      tr.span("operators.bpe_train") {
        val merges = Bpe.trainMerges(docs.select(col("doc_id"), col("text")).as[(Long, String)],
          BpeMerges)
        tr.count("rounds", merges.size.toDouble)
        lastMerges = merges
        merges.nonEmpty
      }
    }
    log.time("apply") {
      tr.span("operators.suffix_array") {
        val clean = SuffixArray.removeDuplicateSpans(docs, "doc_id", "text", SaCap, SaDupMin)
        val r = clean.agg(count(lit(1)), sum(col("removed_chars"))).head()
        tr.count("rounds", math.ceil(math.log(SaCap) / math.log(2)))
        r.getLong(0) > 0
      }
    }
    if (!name.startsWith("warm")) {
      if (lastTable.nonEmpty) {
        spark.sql(s"DROP TABLE $lastTable"): Unit
        Lake.delete(new java.io.File(lastRoot))
      }
      lastTable = table; lastRoot = root
    }
  }

  /** The q199 chain, layer by layer. */
  private def shards(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val tr = ctx.tr
    val wet = tr.span("operators.wet") {
      val media = docs.select(col("doc_id"), col("source"), col("text"))
        .as[(Long, String, String)]
        .mapPartitions(_.map { case (id, src, text) => (id, Wet.wetArchivePayload(id, src, text)) })
      val m = tr.mat(media.toDF("id", "payload"))
      val out = tr.mat(Wet.wetFromArchives(m.as[(Long, Array[Byte])]).toDF())
      if (tr.enabled) {
        val r = m.agg(count(lit(1)), sum(length(col("payload")))).head()
        val n = out.count()
        tr.count("docs", n.toDouble); tr.count("mb_in", r.getLong(1) / 1e6)
        tr.count("decode_errors", (r.getLong(0) - n).toDouble)
      }
      out
    }
    val allowed = tr.span("functions.url_robots") {
      val url = UrlFns.urlCanon(col("uri"))
      val canon = wet.select(col("media_id").as("doc_id"), col("text"), url.as("url"))
        .withColumn("host", regexp_extract(col("url"), "^https?://([^/]+)", 1))
        .withColumn("path", regexp_extract(col("url"), "^https?://[^/]+(/.*)$", 1))
        .withColumn("source", regexp_extract(col("host"), "^([^.]+)\\.", 1))
      val rules = Robots.parseRules(RobotsTxt, "graftbot")
        .map(r => (r.allow, r.pattern, Robots.matchLen(r.pattern).toLong))
        .toDF("allow", "pattern", "plen")
      val out = tr.mat(canon
        .join(broadcast(rules), RobotsFns.robotsMatch(col("path"), col("pattern")), "left")
        .groupBy(col("doc_id"))
        .agg(max(struct(coalesce(col("plen"), lit(-1L)).as("plen0"),
            coalesce(col("allow"), lit(true)).as("allow0"))).as("best"),
          first(col("source")).as("source"), first(col("text")).as("text"))
        .filter(col("best.allow0"))
        .select(col("doc_id"), col("source"), col("text")))
      if (tr.enabled) tr.count("dropped", (wet.count() - out.count()).toDouble)
      out
    }
    val evalDocs = allowed.where(col("source") === "src0")
    val gated = tr.span("operators.curation") {
      val train = allowed.where(col("source") =!= "src0")
      val scrub = train.select(col("doc_id"), col("source"), col("text"),
        Dedup.contentKey(col("text")).as("ckey"),
        TextFns.tokens(TextFns.redactDenylist(col("text"), DenyTerms, ScrubToken)).as("toks"))
      val stats = scrub.select(col("doc_id"), col("source"), col("text"), col("ckey"),
        size(col("toks")).as("n_tokens"),
        size(filter(col("toks"), t => t.isin(StopWords: _*))).as("stops"))
      tr.mat(stats.where(col("n_tokens") >= CurateMinTokens &&
        col("stops") * 50 >= col("n_tokens")))
    }
    val uniq = tr.span("operators.dedup") {
      val keepers = gated
        .withColumn("_keep", min(col("doc_id")).over(Window.partitionBy(col("ckey"))))
        .where(col("doc_id") === col("_keep"))
        .drop("_keep", "ckey", "stops")
      val sigs = Dedup.minhashSignatures(keepers, col("doc_id"), col("text"), ShingleN, NumHashes)
      val cand = tr.mat(Dedup.lshCandidatePairs(sigs, NumBands, RowsPerBand))
      val sets = Dedup.shingleSets(keepers, col("doc_id"), col("text"), ShingleN)
      val dupPairs = tr.mat(Dedup.jaccardVerify(cand, sets).where(col("jaccard") >= NearDupJ))
      if (tr.enabled) {
        tr.count("candidate_pairs", cand.count().toDouble)
        tr.count("dup_pairs", dupPairs.count().toDouble)
      }
      val nearDup = dupPairs.select(col("doc_b").as("doc_id")).distinct()
      tr.mat(keepers.join(nearDup, Seq("doc_id"), "left_anti"))
    }
    tr.span("operators.curation") {
      val contaminated = BloomPrune.contaminatedTrainDocs(evalDocs, uniq,
          col("doc_id"), col("text"), ShingleN, ContamMinShared)
        .select(col("t_id").as("doc_id"))
      val clean = uniq.join(contaminated, Seq("doc_id"), "left_anti")
      val spans = Packing.packSpans(
        clean.select(col("doc_id"), col("source"), col("n_tokens")),
        col("source"), col("doc_id"), col("n_tokens"), PackBudget, "flag")
      val w = (lit(1) + regexp_extract(col("source"), "([0-9]+)", 1).cast("int") % 3)
        .cast("double")
      val chunks = spans.groupBy(col("source"), col("chunk_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("doc_off") > 0, 1L).otherwise(0L)).as("n_carried"),
          sum(col("span_len")).as("chunk_tokens"))
        .withColumn("sched_vt", (col("chunk_id").cast("double") + 1) / w)
      tr.mat(Layout.rangeShards(chunks.localCheckpoint(), col("sched_vt"), NumShards)
        .select(col("source"), col("chunk_id"), col("n_spans"), col("n_carried"),
          col("chunk_tokens"), col("sched_vt"), col("shard")))
    }
  }

  def check(spark: SparkSession, log: OpLog): Unit = {
    import spark.implicits._
    val dir = ctx.dir("check")
    val docs = spark.read.parquet(docsPath)
    log.check("the corpus is the same for the seed",
      docs.orderBy("doc_id").as[(Long, String, String, String, Long)].collect().toSeq ==
        corpus(spark)._1)
    def dump(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.parquet(new java.io.File(dir, name).getPath)
    dump("q199_bytes_to_shards", spark.table(lastTable))
    dump("q157_bpe_train", lastMerges.map { case (k, l, r, c) => (k.toLong, l, r, c) }
      .toDF("merge_rank", "pair_left", "pair_right", "pair_count"))
    // the last cycle's suffix array is still memoized
    dump("q171_suffix_array", SuffixArray.suffixRanks(docs, "doc_id", "text", SaCap))
    dump("q174_sa_span_removal",
      SuffixArray.removeDuplicateSpans(docs, "doc_id", "text", SaCap, SaDupMin))
    SuffixArray.releaseSuffixArrays(spark)
    val sql = checked.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
      .mkString("{", ",", "}")
    java.nio.file.Files.write(new java.io.File(dir, "oracle_sql.json").toPath,
      sql.getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(dir, "params.json").toPath,
      s"""{"bpe_merges":$BpeMerges}""".getBytes("UTF-8"))
  }

  def storeAmp: Double = Lake.storeAmp(lastRoot)

  def native(log: OpLog): Seq[(String, Double, String)] = {
    // seconds per cycle; every cycle has one ingest
    val perCycle = (log.total("ingest") + log.total("read") + log.total("apply")) / log.n("ingest")
    Seq(("crawl_docs_per_s", NDocs / perCycle, "1/s"))
  }
}
