package graftbench

import java.nio.file.Paths

import org.apache.spark.sql.functions._

/** Self-tests of the benchmark's own logic:
  *
  *   python3 perfbench/run.py --selftest
  *
  * the tail-percentile rule with its sample count, the geometric mean,
  * span self-time arithmetic, and per-seed determinism of the four
  * generators. Exits non-zero on the first failure. */
object SelfTest {
  private var failures = 0

  private def expect(what: String)(cond: Boolean): Unit = {
    println((if (cond) "ok   " else "FAIL ") + what)
    if (!cond) failures += 1
  }

  def tailRule(): Unit = {
    val ten = (1 to 10).map(_.toDouble)
    expect("tail under 20 samples is the median, reported as p50")(
      Stats.tail(ten) == Stats.Tail(5.5, 50, 10))
    val twenty = (1 to 20).map(_.toDouble)
    expect("tail at 20 samples is p50 and never below the median")(
      Stats.tail(twenty) == Stats.Tail(10.5, 50, 20))
    val hundred = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
    val t = Stats.tail(hundred)
    expect("tail at 100 samples is p90 with exactly 10 samples beyond it")(
      t == Stats.Tail(90.0, 90, 100) && hundred.count(_ > t.value) == 10)
    val t37 = Stats.tail((1 to 37).map(_.toDouble))
    expect("tail at 37 samples is p72 (27th value, 10 beyond)")(
      t37 == Stats.Tail(27.0, 72, 37))
    expect("median of an even sample averages the middle pair")(
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    expect("geometric mean of per-kind medians: (1 * 8 * 27)^(1/3) = 6")(
      math.abs(Stats.geomean(Seq(1.0, 8.0, 27.0)) - 6.0) < 1e-9)
    expect("one kind 8x slower moves the geometric mean of three kinds 2x")(
      math.abs(Stats.geomean(Seq(8.0, 2.0, 3.0)) / Stats.geomean(Seq(1.0, 2.0, 3.0)) - 2.0) < 1e-9)
  }

  def selfTime(): Unit = {
    def s(id: Int, parent: Int, a: Long, b: Long) =
      Span(id, 0, s"s$id", parent, a, b, Counters.Zero)
    val spans = Seq(
      s(0, -1, 0, 100),
      s(1, 0, 10, 30), s(2, 0, 20, 50), // overlapping children: union [10, 50]
      s(3, 0, 90, 120), // clipped to the parent's end: [90, 100]
      s(4, 1, 12, 18), // grandchild: counts against s1 only
      s(5, -1, 200, 210))
    val self = Span.selfTimes(spans)
    expect("root self time = 100 - |[10,50] u [90,100]| = 50")(self(0) == 50)
    expect("child self time excludes its own child")(self(1) == 14)
    expect("leaf self time is its duration")(self(2) == 30 && self(5) == 10)
    expect("self times of a chain add up to the root duration")(
      Span.selfTimes(Seq(s(0, -1, 0, 10), s(1, 0, 2, 8), s(2, 1, 3, 4)))
        .values.sum == 10)
  }

  def generators(root: java.nio.file.Path): Unit = {
    val cp = Gen.CorpusProps(docs = 400, words = 50, exactShare = 0.1,
      nearShare = 0.1, lowShare = 0.05)
    val c1 = Gen.corpus(7, cp)
    val c2 = Gen.corpus(7, cp)
    val c3 = Gen.corpus(8, cp)
    expect("corpus: same seed, same documents")(c1 == c2)
    expect("corpus: another seed changes the texts, not only the ids")(
      c1.rows.map(_._1) == c3.rows.map(_._1) &&
        c1.rows.map(_._2).toSet.intersect(c3.rows.map(_._2).toSet).isEmpty)
    expect("corpus: planted shares as stated")(
      c1.exact == 40 && c1.near == 40 && c1.low == 20 && c1.keep.size == 300)

    val wp = Gen.WeatherProps(grids = 20, horizon = 4, batches = 3, rejectShare = 0.2)
    val g = Gen.grids(7, 20)
    expect("weather: same seed, same envelopes")(
      Gen.weatherBatch(7, wp, g, 1) == Gen.weatherBatch(7, wp, Gen.grids(7, 20), 1))
    expect("weather: another seed changes the grid points and values")(
      Gen.grids(8, 20) != g &&
        Gen.weatherValue(7, 1, 60, 127, 5, "TMP") != Gen.weatherValue(8, 1, 60, 127, 5, "TMP"))
    val env = Gen.weatherBatch(7, wp, g, 1)
    expect("weather: one accepted envelope per grid point plus the rejected ones")(
      env.count(_.contains("\"resultCode\":\"00\"")) == 20 && env.size > 20)

    val vp = Gen.VectorProps(vectors = 200, dims = 8, clusters = 4, twinShare = 0.1)
    val g1 = Gen.vectors(7, vp)
    val g2 = Gen.vectors(7, vp)
    val g3 = Gen.vectors(8, vp)
    expect("vectors: same seed, same vectors, labels and twins")(
      g1.vs.map(_.toSeq).toSeq == g2.vs.map(_.toSeq).toSeq &&
        g1.labels.toSeq == g2.labels.toSeq && g1.twins == g2.twins)
    expect("vectors: another seed changes the values")(
      g1.vs.map(_.toSeq).toSeq != g3.vs.map(_.toSeq).toSeq)
    expect("vectors: a planted twin is its source's exact nearest neighbour, same label")(
      g1.twins.size == 20 && g1.twins.forall { case (a, b) =>
        Gen.exactTopK(g1.vs, b, 1) == Seq(a) && g1.labels(a) == g1.labels(b) })

    val work = root.resolve(".bench_work").resolve("selftest")
    Exec.deleteTree(work)
    val spark = graft.core.GraftSession.builder("local[2]", 2)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val fp = Gen.FarmProps(farms = 20, herdMin = 5, herdMax = 9)
      def digest(seed: Long, name: String): Seq[(Long, Long)] = {
        val dir = work.resolve(s"$name").toString
        Gen.farms(spark, seed, fp, dir)
        Seq("modon", "modon_wk", "bunman", "eu", "trans", "lpd", "farm_config").map { t =>
          val df = spark.read.parquet(s"$dir/$t.parquet")
          val r = df.agg(count(lit(1)),
            sum(pmod(xxhash64(df.columns.sorted.map(col): _*), lit(1000000007L)))).head()
          (r.getLong(0), r.getLong(1))
        }
      }
      val d1 = digest(7, "a")
      val d2 = digest(7, "b")
      val d3 = digest(8, "c")
      expect("farms: same seed, same tables")(d1 == d2)
      expect("farms: another seed changes every table's values")(
        d1.zip(d3).forall { case (x, y) => x._2 != y._2 })
      val herd = spark.read.parquet(work.resolve("a/modon.parquet").toString)
        .groupBy("farm_no").count().collect().map(_.getLong(1))
      expect("farms: every farm present, herd sizes within the stated range")(
        herd.length == 20 && herd.forall(n => n >= 5 && n <= 9))
    } finally {
      spark.stop()
      Exec.deleteTree(work)
    }
  }

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args.sliding(2).collectFirst { case Array("--root", r) => r }
      .getOrElse(".")).toAbsolutePath.normalize
    tailRule()
    selfTime()
    generators(root)
    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
