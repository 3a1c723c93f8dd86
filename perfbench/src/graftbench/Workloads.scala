package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Materialize

/** One kind of operation with its own inputs: `op` runs one, `check`
  * validates its output outside the timed window and returns how many
  * operations it found failed. */
trait Kind {
  def name: String
  /** Input properties, recorded in the output. */
  def props: Seq[(String, Any)]
  /** Input generation and index build, inside a fresh session. Runs
    * several times per process with the same seed. */
  def setup(spark: SparkSession): Unit
  /** Untimed preparation before operation `i` (table resets). */
  def beforeOp(spark: SparkSession, i: Int): Unit = ()
  /** One operation; returns the items it processed. */
  def op(spark: SparkSession, i: Int, tr: Tracer): Long
  def check(spark: SparkSession, i: Int): Int
  /** Checks still open when the loop ends; returns failed operations. */
  def finish(spark: SparkSession): Int = 0
  /** Per-layer metrics of one traced operation. */
  def layerMetrics(spark: SparkSession, i: Int, spans: Seq[Span]): Map[String, Double]
  /** Per-layer metrics measured during set-up. */
  def setupMetrics: Map[String, Double] = Map.empty
}

/** A benchmark workload: what the closed loop in [[Main]] runs. */
trait Workload extends Kind {
  /** Output quality in [0, 1]; 1 = every checked output right. */
  def quality(spark: SparkSession): Double
  def qualityName: String
  /** What `items_per_s` counts, what one operation is, and the name
    * the human-readable lines give the throughput. */
  def itemUnit: String
  def opUnit: String
  def throughputName: String
  /** Name of the span inside a traced operation that bounds the core.*
    * listener window: the call one untraced operation makes (None: the
    * whole operation). */
  def coreSpan: Option[String] = None
  /** Operations per rotation; the loop stops only between rotations, so
    * every run times the same mix. */
  def cycle: Int = 1
  /** Warm up before an untraced timing. Off for a batch job that runs
    * once in a fresh process: there the cold run is what users see. */
  def warm: Boolean = true
  /** Kind of operation `i`, the name of its root span. */
  def kind(i: Int): String = name
  /** The kind whose traced operations give the core.* metrics. */
  def coreKind: String = name
  /** One untraced rotation before timing; returns failed operations. */
  def warmUp(spark: SparkSession): Int =
    (0 until cycle).map { i =>
      beforeOp(spark, i)
      op(spark, i, Tracer.Off)
      check(spark, i)
    }.sum + finish(spark)
}

/** Shared helpers: force the physical plan and execute separately, so
  * planning and execution get their own spans. */
object Exec {

  def plan(tr: Tracer, df: DataFrame): Unit =
    tr.span("core.plan") { df.queryExecution.executedPlan; () }

  /** Plan, then materialize into a lineage-free leaf (the same
    * QueryExecution, so nothing is planned twice). */
  def leaf(tr: Tracer, df: DataFrame): DataFrame = {
    plan(tr, df)
    tr.span("core.exec") { Materialize.leafCache(df) }
  }

  /** Plan, then run into the no-op sink. */
  def noop(tr: Tracer, df: DataFrame): Unit = {
    plan(tr, df)
    tr.span("core.exec") { df.write.format("noop").mode("overwrite").save() }
  }

  def durS(spans: Seq[Span], name: String): Double =
    spans.filter(_.name == name).map(_.durNs).sum / 1e9

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.toSeq.foreach { s =>
      val d = dst.resolve(src.relativize(s).toString)
      if (Files.isDirectory(s)) Files.createDirectories(d) else Files.copy(s, d)
    }

  /** (bytes, data files) under a table directory. */
  def tableStats(p: Path): (Long, Int) = {
    val files = Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .toSeq
    (files.map(Files.size).sum, files.size)
  }
}

// ================================================================ weekly_fleet

/** The weekly farm report over all farms: read- and shuffle-heavy over
  * farm_no in the section builders, ops and the pipeline. */
final class WeeklyFleet(seed: Long, dir: Path) extends Workload {
  import graft.pipeline.WeeklyReportJob
  import WeeklyReportJob.DomainSources

  val p = Gen.FarmProps(farms = 500, herdMin = 10, herdMax = 20)
  def name = "weekly_fleet"
  def itemUnit = "farms"
  def opUnit = "report"
  def throughputName = "weekly.farms_per_s"
  override def warm = false
  private val in = dir.resolve("farms").toString
  private val out = dir.resolve("report").toString
  private var sows = 0L
  private var digest: Option[(Long, Long)] = None
  private var checks, passed = 0

  def props: Seq[(String, Any)] = Seq("farms" -> p.farms,
    "herd_size" -> s"${p.herdMin}..${p.herdMax}", "sows" -> sows)

  def setup(spark: SparkSession): Unit = {
    Gen.farms(spark, seed, p, in)
    sows = spark.read.parquet(s"$in/modon.parquet").count()
  }

  def op(spark: SparkSession, i: Int, tr: Tracer): Long = {
    if (tr.enabled) {
      // the eleven section builders and both compositions, each to the
      // no-op sink, then the report itself
      graft.devtools.WeeklyScale.queries(spark, in).foreach { case (q, df, _) =>
        val layer = if (q.startsWith("week_")) "pipeline" else "sections"
        tr.span(s"$layer.$q") { Exec.noop(tr, df) }
      }
    }
    tr.span("pipeline.report") {
      WeeklyReportJob.runReport(spark, DomainSources.parquet(spark, in), out)
    }
    p.farms
  }

  override def coreSpan: Option[String] = Some("pipeline.report")

  def check(spark: SparkSession, i: Int): Int = {
    val summary = spark.read.parquet(s"$out/week_summary")
    val s = summary.agg(count(lit(1)), countDistinct(col("farm_no"))).head()
    val sub = spark.read.parquet(s"$out/week_sub")
    val h = sub.agg(count(lit(1)),
      sum(pmod(xxhash64(sub.columns.sorted.map(col): _*), lit(1000000007L)))).head()
    val d = (h.getLong(0), h.getLong(1))
    if (digest.isEmpty) digest = Some(d)
    val ok = s.getLong(0) == p.farms && s.getLong(1) == p.farms &&
      d._1 > 0 && digest.contains(d)
    checks += 1
    if (ok) passed += 1
    if (ok) 0 else 1
  }

  def quality(spark: SparkSession): Double = if (checks == 0) 0.0 else passed.toDouble / checks
  def qualityName = "share of output checks passed"

  private val subSections = Seq("sub_config", "sub_alert", "sub_modon", "sub_gb",
    "sub_bm", "sub_eu", "sub_sago", "sub_dope", "sub_ship", "sub_sched")
  private val sections = subSections :+ "sub_plan"

  def layerMetrics(spark: SparkSession, i: Int, spans: Seq[Span]): Map[String, Double] = {
    val sec = sections.map(s => s"sections.${s}_s" -> Exec.durS(spans, s"sections.$s")).toMap
    val sub = Exec.durS(spans, "pipeline.week_sub")
    val summ = Exec.durS(spans, "pipeline.week_summary")
    val report = Exec.durS(spans, "pipeline.report")
    val write = report - sub - summ
    // the SUB union computes ten sections, the summary all eleven
    val parts = subSections.map(s => sec(s"sections.${s}_s")).sum + sec.values.sum + write
    sec ++ Map("pipeline.week_sub_s" -> sub, "pipeline.week_summary_s" -> summ,
      "pipeline.report_s" -> report, "sinks.report_write_s" -> write,
      "weekly.accounted_share" -> parts / report)
  }
}

// ================================================================ curation_corpus

/** The corpus curation funnel: exact dedup, MinHash/LSH near-dup
  * removal with Jaccard verification, quality gate. */
final class CurationCorpus(seed: Long, dir: Path) extends Kind {
  import graft.ops.dedup.Dedup
  import graft.ops.text.TextOps
  import graft.pipeline.CorpusCurationJob

  val p = Gen.CorpusProps(docs = 1000, words = 200, exactShare = 0.1,
    nearShare = 0.1, lowShare = 0.05)
  def name = "curation_corpus"
  private val in = dir.resolve("docs").toString
  private val out = dir.resolve("curated").toString
  private var corpus: Gen.Corpus = _

  def props: Seq[(String, Any)] = Seq("docs" -> p.docs, "words_per_doc" -> p.words,
    "exact_share" -> p.exactShare, "near_share" -> p.nearShare,
    "low_quality_share" -> p.lowShare)

  def setup(spark: SparkSession): Unit = {
    corpus = Gen.corpus(seed, p)
    import spark.implicits._
    corpus.rows.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(in)
  }

  def op(spark: SparkSession, i: Int, tr: Tracer): Long = {
    if (tr.enabled) tracedStages(spark, tr)
    tr.span("pipeline.curation") {
      CorpusCurationJob.run(spark, spark.read.parquet(in), out)
    }
    p.docs
  }

  private var candPairs, verPairs = 0L

  /** The funnel's stages one at a time, each materialized, with the
    * parameters CorpusCurationJob uses. */
  private def tracedStages(spark: SparkSession, tr: Tracer): Unit = {
    val docs = spark.read.parquet(in)
    val uniq = tr.span("dedup.exact") { Exec.leaf(tr, Dedup.exactKeep(docs, "doc_id", "text")) }
    val sig = tr.span("functions.minhash") {
      Exec.leaf(tr, Dedup.minHashText(uniq, "doc_id", "text", 3, 16))
    }
    val cand = tr.span("dedup.lsh") {
      Exec.leaf(tr, Dedup.candidatePairs(
        Dedup.lshBands(sig, "doc_id", n = 16, rowsPerBand = 4), "doc_id"))
    }
    val jh = tr.span("dedup.jaccard") {
      Dedup.jaccardTextReleasable(cand, uniq, "doc_id", "text", 3)
    }
    val ver = tr.span("dedup.jaccard") { Exec.leaf(tr, jh.df.filter(col("jaccard") >= 0.7)) }
    tr.span("text.quality") {
      Exec.noop(tr, uniq.filter(
        TextOps.qualityScore(col("text"), CorpusCurationJob.Stopwords) >= 0.5))
    }
    candPairs = cand.count()
    verPairs = ver.count()
    jh.release()
    Seq(uniq, sig, cand, ver).foreach(Materialize.release)
  }

  def check(spark: SparkSession, i: Int): Int = {
    val got = spark.read.parquet(s"$out/curated").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val funnelIn = spark.read.parquet(s"$out/funnel")
      .agg(sum(col("n_input"))).head().getLong(0)
    if (got == corpus.keep && funnelIn == p.docs) 0 else 1
  }

  def layerMetrics(spark: SparkSession, i: Int, spans: Seq[Span]): Map[String, Double] = Map(
    "dedup.exact_s" -> Exec.durS(spans, "dedup.exact"),
    "functions.minhash_s" -> Exec.durS(spans, "functions.minhash"),
    "dedup.lsh_s" -> Exec.durS(spans, "dedup.lsh"),
    "dedup.jaccard_s" -> Exec.durS(spans, "dedup.jaccard"),
    "text.quality_s" -> Exec.durS(spans, "text.quality"),
    "pipeline.curation_s" -> Exec.durS(spans, "pipeline.curation"),
    "dedup.candidate_pairs" -> candPairs.toDouble,
    "dedup.verified_pairs" -> verPairs.toDouble,
    "dedup.candidate_yield" -> (if (candPairs == 0) 0.0 else verPairs.toDouble / candPairs))
}

// ================================================================ weather_upsert

/** Hourly KMA refreshes: parse the envelopes, MERGE into a growing
  * hourly parquet table. Each cycle replays four hourly refreshes
  * against the previous day's stored table. */
final class WeatherUpsert(seed: Long, dir: Path) extends Kind {
  import graft.sinks.MergeSink
  import graft.sources.JsonIngest

  val p = Gen.WeatherProps(grids = 200, horizon = 4, batches = 4, rejectShare = 0.1)
  def name = "weather_upsert"
  private val keys = Seq("nx", "ny", "fcstDate", "fcstTime", "category")
  private val baseDir = dir.resolve("base")
  private val table = dir.resolve("hourly")
  private val batchesDir = dir.resolve("batches").toString
  private var envelopes: Array[Int] = _
  private val rowsPerBatch = p.grids * p.horizon * Gen.Categories.size
  private val itemsPerEnvelope = p.horizon * Gen.Categories.size
  private var lastOp = -1
  private var checkedTo = -1
  private var parsedRows = 0L
  private var stats: (Long, Int) = (0L, 0)

  def props: Seq[(String, Any)] = Seq("grid_points" -> p.grids,
    "categories" -> Gen.Categories.size, "horizon_h" -> p.horizon,
    "batches_per_cycle" -> p.batches, "rows_per_batch" -> rowsPerBatch,
    "overlap_share" -> (p.horizon - 1).toDouble / p.horizon,
    "rejected_envelope_share" -> p.rejectShare,
    "stored_rows_at_cycle_start" -> p.grids * 24 * Gen.Categories.size)

  def setup(spark: SparkSession): Unit = {
    val g = Gen.grids(seed, p.grids)
    spark.createDataFrame(java.util.Arrays.asList(Gen.weatherBase(seed, g): _*),
      Gen.weatherSchema).write.mode("overwrite").parquet(baseDir.toString)
    import spark.implicits._
    val all = (0 until p.batches).map(b => b -> Gen.weatherBatch(seed, p, g, b))
    envelopes = all.map(_._2.size).toArray
    all.flatMap { case (b, env) => env.map(e => (b, e)) }.toDF("batch", "body")
      .write.partitionBy("batch").mode("overwrite").parquet(batchesDir)
  }

  override def beforeOp(spark: SparkSession, i: Int): Unit =
    if (i % p.batches == 0) {
      Seq(table, Paths.get(table.toString + "__staging"), Paths.get(table.toString + "__old"))
        .foreach(Exec.deleteTree)
      Exec.copyTree(baseDir, table)
    }

  def op(spark: SparkSession, i: Int, tr: Tracer): Long = {
    val raw = spark.read.parquet(s"$batchesDir/batch=${i % p.batches}")
    if (tr.enabled) {
      val parsed = tr.span("sources.parse_kma") { Exec.leaf(tr, JsonIngest.parseKma(raw, "body")) }
      tr.span("sinks.merge") { MergeSink.mergeIntoParquet(spark, table.toString, parsed, keys) }
      parsedRows = parsed.count()
      Materialize.release(parsed)
      stats = Exec.tableStats(table)
    } else
      MergeSink.mergeIntoParquet(spark, table.toString, JsonIngest.parseKma(raw, "body"), keys)
    lastOp = i
    rowsPerBatch
  }

  /** The table after batch `b` of a cycle: the previous day untouched,
    * every hour 1..b+horizon present once, each key holding the value of
    * the latest batch that forecast it. */
  private def validate(spark: SparkSession, b: Int): Boolean = {
    val s = seed
    val expect = udf((nx: Int, ny: Int, date: String, time: String, cat: String) => {
      val h = time.take(2).toInt
      if (date == Gen.PrevDay) Gen.weatherValue(s, -1, nx, ny, h, cat)
      else Gen.weatherValue(s, math.min(h - 1, b), nx, ny, h, cat)
    })
    val t = spark.read.parquet(table.toString)
    val r = t.agg(count(lit(1)),
      countDistinct(col("nx"), col("ny"), col("fcstDate"), col("fcstTime"), col("category")),
      sum(when(col("fcstValue") =!= expect(col("nx"), col("ny"), col("fcstDate"),
        col("fcstTime"), col("category")), 1L).otherwise(0L))).head()
    val want = p.grids.toLong * Gen.Categories.size * (24 + b + p.horizon)
    r.getLong(0) == want && r.getLong(1) == want && r.getLong(2) == 0L
  }

  private def checkCycle(spark: SparkSession, i: Int): Int = {
    val b = i % p.batches
    checkedTo = i
    if (validate(spark, b)) 0 else b + 1
  }

  def check(spark: SparkSession, i: Int): Int =
    if (i % p.batches == p.batches - 1) checkCycle(spark, i) else 0

  override def finish(spark: SparkSession): Int =
    if (lastOp > checkedTo) checkCycle(spark, lastOp) else 0

  def layerMetrics(spark: SparkSession, i: Int, spans: Seq[Span]): Map[String, Double] = {
    val merge = spans.filter(_.name == "sinks.merge")
    val written = merge.map(_.delta.writeBytes).sum.toDouble
    val tableRows = p.grids.toLong * Gen.Categories.size * (24 + i % p.batches + p.horizon)
    val bytesPerRow = stats._1.toDouble / tableRows
    val env = envelopes(i % p.batches)
    Map(
      "sources.parse_kma_s" -> Exec.durS(spans, "sources.parse_kma"),
      "sinks.merge_s" -> Exec.durS(spans, "sinks.merge"),
      "sinks.write_amp" -> written / (parsedRows * bytesPerRow),
      "sinks.table_mb" -> stats._1 / 1e6,
      "sinks.table_files" -> stats._2.toDouble,
      "sources.rejected_envelopes" ->
        (env.toLong * itemsPerEnvelope - parsedRows).toDouble / itemsPerEnvelope)
  }
}

// ================================================================ ann_serve

/** Small probe batches against a stored IVF-PQ index: the latency-bound
  * path where job and planning overhead dominate. */
final class AnnServe(seed: Long, dir: Path) extends Kind {
  import graft.ops.similarity.VectorOps

  val p = Gen.VectorProps(vectors = 2000, dims = 32, clusters = 16, twinShare = 0.05)
  val m = 4
  val ksub = 16
  val nprobe = 4
  val shortlist = 100
  val k = 10
  val batchSize = 40
  val batches = 2
  def name = "ann_serve"
  private val idx = dir.resolve("index")
  private var vs: Array[Array[Float]] = _
  private var twins = 0
  private var probeIds: IndexedSeq[IndexedSeq[Int]] = _
  private var exact: Map[Int, Seq[Int]] = _
  private val recall = scala.collection.mutable.Map[Int, Double]()
  private var lastRows: Array[Row] = _
  private var buildTimes = Vector.empty[Double]

  def props: Seq[(String, Any)] = Seq("vectors" -> p.vectors, "dims" -> p.dims,
    "clusters" -> p.clusters, "planted_twins" -> twins, "nlist" -> p.clusters,
    "pq_m" -> m, "pq_ksub" -> ksub, "nprobe" -> nprobe, "shortlist" -> shortlist,
    "k" -> k, "probes_per_batch" -> batchSize, "probe_batches" -> batches)

  private var labels: Array[Int] = _
  private val probeSchema = StructType(Seq(StructField("vec_id", LongType, false),
    StructField("embedding", ArrayType(FloatType, false), false)))
  private val embSchema = probeSchema.add(StructField("cell", IntegerType, false))

  private def probeRows(ids: Seq[Int]): java.util.List[Row] =
    ids.map(i => Row(i.toLong, vs(i).toSeq)).asJava

  def setup(spark: SparkSession): Unit = {
    val g = Gen.vectors(seed, p)
    vs = g.vs
    labels = g.labels
    val tw = g.twins
    twins = tw.size
    val rnd = new java.util.SplittableRandom(Gen.hash(seed, 5))
    // half of every batch probes a planted twin, half a random vector
    val twinIds = tw.flatMap { case (a, b) => Seq(a, b) }.toIndexedSeq
    probeIds = (0 until batches).map { _ =>
      val ids = scala.collection.mutable.LinkedHashSet[Int]()
      while (ids.size < batchSize)
        ids += (if (ids.size % 2 == 0) twinIds(rnd.nextInt(twinIds.size)) else rnd.nextInt(p.vectors))
      ids.toIndexedSeq
    }
    exact = probeIds.flatten.distinct.map(q => q -> Gen.exactTopK(vs, q, k)).toMap
    // the corpus carries its coarse cell (the generator's cluster label)
    spark.createDataFrame((0 until p.vectors).map(i => Row(i.toLong, vs(i).toSeq, labels(i))).asJava,
        embSchema).write.mode("overwrite").parquet(s"$idx/emb")
    val t0 = System.nanoTime()
    val emb = spark.read.parquet(s"$idx/emb")
    VectorOps.ivfCentroids(emb, "cell").write.mode("overwrite").parquet(s"$idx/centroids")
    val (codes, books) = VectorOps.pqCodes(emb, "vec_id", m, ksub)
    books.write.mode("overwrite").parquet(s"$idx/codebooks")
    VectorOps.pqCodesPacked(codes, "vec_id").join(emb.select("vec_id", "cell"), "vec_id")
      .write.mode("overwrite").parquet(s"$idx/packed")
    buildTimes :+= (System.nanoTime() - t0) / 1e9
  }

  private def query(spark: SparkSession, b: Int): DataFrame = {
    val probes = spark.createDataFrame(probeRows(probeIds(b)), probeSchema)
    VectorOps.ivfPqTopK(probes, spark.read.parquet(s"$idx/emb"),
      spark.read.parquet(s"$idx/centroids"), spark.read.parquet(s"$idx/packed"),
      spark.read.parquet(s"$idx/codebooks"), "vec_id", m, ksub, k,
      nprobe = nprobe, shortlist = shortlist)
  }

  def op(spark: SparkSession, i: Int, tr: Tracer): Long = {
    val df = tr.span("similarity.construct") { query(spark, i % batches) }
    Exec.plan(tr, df)
    lastRows = tr.span("core.exec") { df.collect() }
    batchSize
  }

  /** Recall@k of one batch's answer against the exact top-k. */
  private def score(b: Int, rows: Array[Row]): (Boolean, Double) = {
    val got = rows.groupBy(_.getAs[Long]("q_id").toInt)
      .map { case (q, rs) => q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("c_id").toInt).toSeq }
    val qs = probeIds(b).distinct
    val wellFormed = got.keySet == qs.toSet && got.forall { case (q, ids) =>
      ids.size == k && ids.distinct.size == k && !ids.contains(q) &&
        ids.forall(i => i >= 0 && i < p.vectors)
    }
    val r = qs.map(q => got.getOrElse(q, Nil).count(exact(q).contains).toDouble / k)
    (wellFormed, r.sum / r.size)
  }

  def check(spark: SparkSession, i: Int): Int = {
    val (ok, r) = score(i % batches, lastRows)
    recall.getOrElseUpdate(i % batches, r)
    if (ok) 0 else 1
  }

  /** Recall over every probe batch, whether or not the loop reached it,
    * so it does not depend on how many operations fit in the run. */
  def recallAt10(spark: SparkSession): Double = {
    (0 until batches).filterNot(recall.contains).foreach { b =>
      recall(b) = score(b, query(spark, b).collect())._2
    }
    recall.values.sum / batches
  }

  def layerMetrics(spark: SparkSession, i: Int, spans: Seq[Span]): Map[String, Double] =
    Map("similarity.construct_s" -> Exec.durS(spans, "similarity.construct"))

  override def setupMetrics: Map[String, Double] =
    if (buildTimes.isEmpty) Map.empty else Map("ann.index_build_s" -> Stats.median(buildTimes))
}

// ================================================================ service_mix

/** One long-lived session serving a fixed rotation of requests: one ANN
  * probe batch, one hourly weather refresh and one corpus-increment
  * curation run. No traffic ratio between the kinds is known, so each
  * rotation holds one request of each. Each request kind keeps its own
  * inputs, checks and per-layer spans. */
final class ServiceMix(seed: Long, dir: Path) extends Workload {
  val ann = new AnnServe(seed, dir.resolve("ann"))
  val weather = new WeatherUpsert(seed, dir.resolve("weather"))
  val curation = new CurationCorpus(seed, dir.resolve("curation"))
  private val rotation = IndexedSeq[Kind](ann, weather, curation)
  def name = "service_mix"
  def itemUnit = "requests"
  def opUnit = "request"
  def throughputName = "service.requests_per_s"
  override def cycle: Int = rotation.size
  override def coreKind: String = ann.name

  /** Request `i` goes to its kind as that kind's request `i / cycle`. */
  private def route(i: Int): (Kind, Int) = (rotation(i % cycle), i / cycle)

  override def kind(i: Int): String = route(i)._1.name

  def props: Seq[(String, Any)] =
    Seq("rotation" -> rotation.map(_.name).mkString(",")) ++
      rotation.flatMap(w => w.props.map { case (k, v) => (s"${w.name}.$k", v) })

  def setup(spark: SparkSession): Unit = rotation.foreach(_.setup(spark))

  override def beforeOp(spark: SparkSession, i: Int): Unit = {
    val (w, k) = route(i)
    w.beforeOp(spark, k)
  }

  def op(spark: SparkSession, i: Int, tr: Tracer): Long = {
    val (w, k) = route(i)
    w.op(spark, k, tr)
    1L
  }

  def check(spark: SparkSession, i: Int): Int = {
    val (w, k) = route(i)
    w.check(spark, k)
  }

  override def finish(spark: SparkSession): Int = rotation.map(_.finish(spark)).sum

  /** ANN recall@10; the other kinds' checks count as failed requests. */
  def quality(spark: SparkSession): Double = ann.recallAt10(spark)
  def qualityName = "ann.recall_at_10 against exact cosine top-10"

  def layerMetrics(spark: SparkSession, i: Int, spans: Seq[Span]): Map[String, Double] = {
    val (w, k) = route(i)
    w.layerMetrics(spark, k, spans)
  }

  override def setupMetrics: Map[String, Double] = ann.setupMetrics
}

object Workloads {
  val names: Seq[String] = Seq("weekly_fleet", "service_mix")

  def apply(name: String, seed: Long, dir: Path): Workload = name match {
    case "weekly_fleet" => new WeeklyFleet(seed, dir)
    case "service_mix" => new ServiceMix(seed, dir)
  }
}
