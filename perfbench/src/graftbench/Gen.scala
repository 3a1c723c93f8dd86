package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators for the four workloads. Every value mixes
  * the seed in, so two seeds give different data (not only different
  * ids); the same seed always gives the same data. */
object Gen {

  /** 64-bit mix (splitmix64 finalizer) for driver-side generation. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, parts: Long*): Long =
    parts.foldLeft(mix(seed))((h, p) => mix(h ^ p))

  // ------------------------------------------------------------ farms

  final case class FarmProps(farms: Int, herdMin: Int, herdMax: Int)

  private val day = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
  private def ymd(d: java.time.LocalDate): String = d.format(day)
  private def d0(s: String) = java.time.LocalDate.parse(s)

  /** Farm fact tables in the shape the weekly report reads (sow master,
    * work log, farrowing, weaning, piglet transfers, slaughter, farm
    * config), written as parquet under `out`. Careers follow the event
    * grammar of the domain fixtures: per parity G then (B then E) or an
    * accident F, with dates spread around the report week
    * 20251103..20251109, gilts without events, foster mothers, culls
    * inside and before the month window, and config rows present, NULL
    * or absent per farm. Herd size per farm is uniform in
    * [herdMin, herdMax]. Generated on the driver, one write per table. */
  def farms(spark: SparkSession, seed: Long, p: FarmProps, out: String): Unit = {
    import java.lang.Math.floorMod
    val modon, modonWk, bunman, eu, trans, lpd, cfg = Seq.newBuilder[Row]
    val horizon = d0("2025-12-31")
    for (f <- 1 to p.farms) {
      val herd = p.herdMin + floorMod(hash(seed, f, 11), p.herdMax - p.herdMin + 1)
      for (pidx <- 0 until herd) {
        def h(salt: Int, m: Int): Int = floorMod(hash(seed, f, pidx, salt), m)
        def bh(j: Int, salt: Int, m: Int): Int = floorMod(hash(seed, f, pidx, j, salt), m)
        val pig = f"P$pidx%05d"
        val eventless = h(20, 20) == 0
        val daeri = if (h(15, 15) == 0) "Y" else "N"
        val nblocks = 1 + h(3, 3)
        val trunc = h(60, 6)
        val start0 = d0("2025-11-09").minusDays(130 + h(31, 330))
        val birth = start0.minusDays(250 + h(32, 150))
        val inDt = birth.plusDays(220 + h(33, 40))
        val evs = Seq.newBuilder[(java.time.LocalDate, String, String, Int)]
        if (!eventless) {
          var cur = start0
          for (j <- 0 until nblocks) {
            val acc = bh(j, 100, 7) == 0
            val g = cur
            val fDt = g.plusDays(18 + bh(j, 101, 10))
            val b = g.plusDays(114 + bh(j, 102, 3))
            val e = b.plusDays(19 + bh(j, 103, 5))
            cur = if (acc) fDt.plusDays(2 + bh(j, 104, 5)) else e.plusDays(4 + bh(j, 105, 6))
            val isLast = j == nblocks - 1
            val dropB = isLast && trunc == 0
            val dropE = isLast && trunc <= 1
            val sago = if (bh(j, 107, 2) == 0) "020001" else "020002"
            val silsan = 8 + bh(j, 106, 7)
            evs += ((g, "G", null, j + 1))
            if (acc) evs += ((fDt, "F", sago, j + 1))
            else {
              if (!dropB) {
                evs += ((b, "B", null, j + 1))
                bunman += Row(f, pig, ymd(b), "B", silsan, bh(j, 108, 3), bh(j, 109, 2),
                  (95 + bh(j, 110, 60)) / 10.0, "Y")
              }
              if (!dropE) {
                evs += ((e, "E", null, j + 1))
                val days = java.time.temporal.ChronoUnit.DAYS.between(b, e).toInt
                eu += Row(f, pig, ymd(e), "E", math.max(silsan - 1 - bh(j, 111, 3), 4),
                  bh(j, 112, 2), days, (550 + bh(j, 113, 200)) / 10.0, daeri, "Y")
                for (ti <- 0 until bh(j, 114, 3)) {
                  def th(salt: Int): Int = floorMod(hash(seed, f, pidx, j, ti, salt), 1000000)
                  trans += Row(f, pig, th(130), j + 1,
                    Seq("160001", "160002", "160003", "160004")(th(131) % 4),
                    ymd(b.plusDays(1 + th(132) % math.max(days - 2, 1))),
                    1 + th(133) % 3, 0, ymd(b), ymd(e), "Y")
                }
              }
            }
          }
        }
        val sowEvs = evs.result().filter(_._1.compareTo(horizon) <= 0)
          .sortBy { case (d, gb, _, _) => (d.toEpochDay, gb) }
        sowEvs.zipWithIndex.foreach { case ((d, gb, sago, sancha), k) =>
          modonWk += Row(f, pig, k + 1, ymd(d), gb, sancha, sago,
            if (gb == "B" || gb == "E") daeri else "N", "Y")
        }
        val cull = h(40, 25)
        val outD =
          if (cull == 0) ymd(d0("2025-10-07").plusDays(h(41, 30)))
          else if (cull == 1) ymd(d0("2025-06-01").plusDays(h(42, 90)))
          else graft.domain.Codes.AliveOutDt
        val lastWk =
          if (eventless && h(44, 3) == 0) null
          else sowEvs.lastOption.map(e => ymd(e._1))
            .getOrElse(ymd(d0("2025-11-09").minusDays(10 + h(45, 60))))
        modon += Row(f, pig,
          if (!eventless) "010001" else Seq("010001", "010005", "010006")(h(43, 3)),
          ymd(inDt), outD, ymd(birth), lastWk, if (eventless) h(46, 5) else 0,
          if (cull <= 1) (if (h(47, 2) == 0) "080001" else "080002") else null,
          if (cull <= 1 && h(48, 5) != 0) Seq("031002", "031003", "031004")(h(49, 3)) else null,
          "Y")
      }
      for (si <- 0 to 7 + floorMod(hash(seed, f, 50), 25)) {
        def lh(salt: Int, m: Int): Int = floorMod(hash(seed, f, si, salt), m)
        lpd += Row(f, d0("2025-10-10").plusDays(lh(51, 31)).toString,
          (800 + lh(52, 300)) / 10.0, (140 + lh(53, 120)) / 10.0,
          Seq("1+", "1", "2")(lh(54, 3)), Seq("암", "수")(lh(55, 2)), "Y")
      }
      val fc = floorMod(hash(seed, f, 70), 4)
      if (fc != 3)
        cfg += Row(f, if (fc == 2) null else Int.box(112 + floorMod(hash(seed, f, 71), 6)),
          null, null, null, null, null)
    }
    def w(rows: Seq[Row], name: String, cols: (String, DataType)*): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          StructType(cols.map { case (c, t) => StructField(c, t) }))
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    val S = StringType
    val I = IntegerType
    val D = DoubleType
    w(modon.result(), "modon", "farm_no" -> I, "pig_no" -> S, "status_cd" -> S,
      "in_dt" -> S, "out_dt" -> S, "birth_dt" -> S, "last_wk_dt" -> S, "in_sancha" -> I,
      "out_gubun_cd" -> S, "out_reason_cd" -> S, "use_yn" -> S)
    w(modonWk.result(), "modon_wk", "farm_no" -> I, "pig_no" -> S, "seq" -> I,
      "wk_dt" -> S, "wk_gubun" -> S, "sancha" -> I, "sago_gubun_cd" -> S,
      "daeri_yn" -> S, "use_yn" -> S)
    w(bunman.result(), "bunman", "farm_no" -> I, "pig_no" -> S, "wk_dt" -> S,
      "wk_gubun" -> S, "silsan" -> I, "sasan" -> I, "mila" -> I, "saengsi_kg" -> D,
      "use_yn" -> S)
    w(eu.result(), "eu", "farm_no" -> I, "pig_no" -> S, "wk_dt" -> S, "wk_gubun" -> S,
      "dusu" -> I, "dusu_su" -> I, "ilryung" -> I, "total_kg" -> D, "daeri_yn" -> S,
      "use_yn" -> S)
    w(trans.result(), "trans", "farm_no" -> I, "pig_no" -> S, "seq" -> I, "sancha" -> I,
      "gubun_cd" -> S, "wk_dt" -> S, "dusu" -> I, "dusu_su" -> I, "bun_dt" -> S,
      "eu_dt" -> S, "use_yn" -> S)
    w(lpd.result(), "lpd", "farm_no" -> I, "dochuk_dt" -> S, "net_kg" -> D,
      "back_depth" -> D, "meat_quality" -> S, "sex_gubun" -> S, "use_yn" -> S)
    w(cfg.result(), "farm_config", "farm_no" -> I, "preg_days" -> I, "wean_days" -> I,
      "cull_age_days" -> I, "gilt_first_mate_days" -> I, "alert_days" -> I,
      "return_check_days" -> I)
  }

  // ------------------------------------------------------------ corpus

  final case class CorpusProps(docs: Int, words: Int, exactShare: Double,
                               nearShare: Double, lowShare: Double)

  /** A document corpus with planted duplicates. Ids are assigned so that
    * every planted copy has a larger id than its source:
    *  - `base` docs: `words` tokens drawn from a seeded pseudo-word
    *    vocabulary with the stopwords "the"/"a" mixed in; pairwise
    *    dissimilar (word 3-gram Jaccard near 0);
    *  - low-quality docs: 4-8 tokens, no stopwords (quality gate drops);
    *  - exact copies of distinct base docs (exact dedup drops);
    *  - near copies of other distinct base docs: the source plus one
    *    extra word at the start or end, word 3-gram Jaccard
    *    (words - 2) / (words - 1) (near-dup removal drops).
    * Returns the rows (doc_id, text, lang) and the ids that must
    * survive curation. */
  final case class Corpus(rows: Seq[(Long, String, String)], keep: Set[Long],
                          exact: Int, near: Int, low: Int)

  def corpus(seed: Long, p: CorpusProps): Corpus = {
    val rnd = new java.util.SplittableRandom(hash(seed, 1))
    val syll = Array("ka", "ne", "ri", "so", "mu", "ta", "li", "po", "gen", "dor",
      "bal", "sin", "tor", "vel", "qua", "zen", "mi", "ro", "sha", "ki")
    val vocab = Array.fill(20000) {
      val n = 2 + rnd.nextInt(3)
      (0 until n).map(_ => syll(rnd.nextInt(syll.length))).mkString
    }
    def word(): String = {
      val r = rnd.nextInt(100)
      if (r < 12) "the" else if (r < 20) "a" else vocab(rnd.nextInt(vocab.length))
    }
    val nExact = (p.docs * p.exactShare).toInt
    val nNear = (p.docs * p.nearShare).toInt
    val nLow = (p.docs * p.lowShare).toInt
    val nBase = p.docs - nExact - nNear - nLow
    require(nExact + nNear <= nBase, "more planted copies than base docs")
    val langs = Array("en", "ko")
    val base = (0 until nBase).map { i =>
      (i.toLong, Iterator.fill(p.words)(word()).mkString(" "), langs(rnd.nextInt(2)))
    }
    val low = (0 until nLow).map { i =>
      ((nBase + i).toLong,
        Iterator.fill(4 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.length))).mkString(" "),
        langs(rnd.nextInt(2)))
    }
    // distinct sources: a seeded permutation of the base ids
    val perm = (0 until nBase).toArray
    for (i <- perm.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    var next = (nBase + nLow).toLong
    val exact = (0 until nExact).map { i =>
      val src = base(perm(i)); next += 1
      (next - 1, src._2, src._3)
    }
    val near = (0 until nNear).map { i =>
      val src = base(perm(nExact + i)); next += 1
      val extra = vocab(rnd.nextInt(vocab.length))
      val text = if (rnd.nextBoolean()) s"$extra ${src._2}" else s"${src._2} $extra"
      (next - 1, text, src._3)
    }
    Corpus(base ++ low ++ exact ++ near, base.map(_._1).toSet, nExact, nNear, nLow)
  }

  // ------------------------------------------------------------ weather

  final case class WeatherProps(grids: Int, horizon: Int, batches: Int,
                                rejectShare: Double)

  val Categories: Seq[String] = Seq("TMP", "REH", "WSD", "VEC", "UUU", "VVV", "POP", "SKY")
  val BaseDay = "20251109"
  val PrevDay = "20251108"

  /** Grid points (nx, ny): distinct, seeded. */
  def grids(seed: Long, n: Int): IndexedSeq[(Int, Int)] = {
    val rnd = new java.util.SplittableRandom(hash(seed, 2))
    val seen = scala.collection.mutable.LinkedHashSet[(Int, Int)]()
    while (seen.size < n) seen += ((1 + rnd.nextInt(149), 1 + rnd.nextInt(253)))
    seen.toIndexedSeq
  }

  /** The forecast value batch `b` carries for one key; `b = -1` is the
    * previous day's stored table. Category-shaped ranges. */
  def weatherValue(seed: Long, b: Int, nx: Int, ny: Int, hour: Int, cat: String): String = {
    val h = hash(seed, b.toLong, nx.toLong, ny.toLong, hour.toLong, cat.hashCode.toLong)
    val u = (h >>> 11).toDouble / (1L << 53).toDouble
    cat match {
      case "TMP" => f"${-10 + 40 * u}%.1f"
      case "REH" => (u * 100).toInt.toString
      case "WSD" => f"${u * 15}%.1f"
      case "VEC" => (u * 360).toInt.toString
      case "UUU" | "VVV" => f"${-10 + 20 * u}%.1f"
      case "POP" => ((u * 10).toInt * 10).toString
      case _ => (1 + (u * 4).toInt).toString
    }
  }

  /** Batch `b` (base time b:00 of [[BaseDay]]) forecasts hours
    * b+1..b+horizon: consecutive batches overlap on horizon-1 of their
    * horizon hours per grid point (updates), the last hour is new
    * (inserts). One accepted envelope per grid point, plus
    * `rejectShare` of grid points with an extra envelope whose result
    * code is not 00 and whose items conflict with the accepted ones. */
  def weatherBatch(seed: Long, p: WeatherProps, g: IndexedSeq[(Int, Int)],
                   b: Int): Seq[String] = {
    val rnd = new java.util.SplittableRandom(hash(seed, 3, b.toLong))
    def envelope(code: String, nx: Int, ny: Int, vb: Int): String = {
      val items = for (h <- b + 1 to b + p.horizon; cat <- Categories) yield
        s"""{"baseDate":"$BaseDay","baseTime":"${f"$b%02d00"}","category":"$cat",""" +
          s""""fcstDate":"$BaseDay","fcstTime":"${f"$h%02d00"}",""" +
          s""""fcstValue":"${weatherValue(seed, vb, nx, ny, h, cat)}","nx":$nx,"ny":$ny}"""
      s"""{"response":{"header":{"resultCode":"$code","resultMsg":"""" +
        (if (code == "00") "NORMAL_SERVICE" else "LIMITED_NUMBER_OF_SERVICE_REQUESTS_EXCEEDS_ERROR") +
        s""""},"body":{"items":{"item":[${items.mkString(",")}]},"totalCount":${items.size}}}}"""
    }
    g.flatMap { case (nx, ny) =>
      val ok = envelope("00", nx, ny, b)
      if (rnd.nextDouble() < p.rejectShare)
        Seq(ok, envelope(if (rnd.nextBoolean()) "22" else "99", nx, ny, 1000 + b))
      else Seq(ok)
    }
  }

  val weatherSchema: StructType = StructType(Seq(
    StructField("baseDate", StringType), StructField("baseTime", StringType),
    StructField("category", StringType), StructField("fcstDate", StringType),
    StructField("fcstTime", StringType), StructField("fcstValue", StringType),
    StructField("nx", IntegerType), StructField("ny", IntegerType)))

  /** The stored hourly table before the day's first refresh: the
    * previous day's 24 hours for every grid point, as parsed rows. */
  def weatherBase(seed: Long, g: IndexedSeq[(Int, Int)]): Seq[Row] =
    for ((nx, ny) <- g; h <- 0 until 24; cat <- Categories) yield
      Row(PrevDay, "2300", cat, PrevDay, f"$h%02d00",
        weatherValue(seed, -1, nx, ny, h, cat), nx, ny)

  // ------------------------------------------------------------ vectors

  final case class VectorProps(vectors: Int, dims: Int, clusters: Int,
                               twinShare: Double)

  /** Clustered embeddings: `clusters` random centres, each vector a
    * centre plus Gaussian noise; `twinShare` of the vectors are planted
    * near-twins (another vector plus 1e-3 noise). Ids are shuffled so
    * they carry no role. `labels` is each vector's cluster (a twin's is
    * its source's), `twins` the (source, twin) id pairs. */
  final case class Vectors(vs: Array[Array[Float]], labels: Array[Int],
                           twins: Seq[(Int, Int)])

  def vectors(seed: Long, p: VectorProps): Vectors = {
    val rnd = new java.util.Random(hash(seed, 4))
    val centres = Array.fill(p.clusters)(Array.fill(p.dims)(rnd.nextGaussian()))
    val nTwins = (p.vectors * p.twinShare).toInt
    val nFree = p.vectors - nTwins
    val vs = new Array[Array[Float]](p.vectors)
    val labels = new Array[Int](p.vectors)
    for (i <- 0 until nFree) {
      labels(i) = rnd.nextInt(p.clusters)
      val c = centres(labels(i))
      vs(i) = Array.tabulate(p.dims)(d => (c(d) + 0.35 * rnd.nextGaussian()).toFloat)
    }
    val twins = (0 until nTwins).map { t =>
      val src = rnd.nextInt(nFree)
      vs(nFree + t) = vs(src).map(x => (x + 1e-3 * rnd.nextGaussian()).toFloat)
      labels(nFree + t) = labels(src)
      (src, nFree + t)
    }
    val order = (0 until p.vectors).toArray
    for (i <- order.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val pos = new Array[Int](p.vectors)
    order.zipWithIndex.foreach { case (orig, newId) => pos(orig) = newId }
    Vectors(order.map(vs), order.map(labels), twins.map { case (a, b) => (pos(a), pos(b)) })
  }

  /** Exact cosine top-k of `q` over all vectors except `q` itself,
    * ties to the smaller id (the ranking ivfPqTopK refines towards). */
  def exactTopK(vs: Array[Array[Float]], q: Int, k: Int): Seq[Int] = {
    def norm(a: Array[Float]): Double = math.sqrt(a.map(x => x.toDouble * x).sum)
    val qv = vs(q)
    val qn = norm(qv)
    vs.indices.iterator.filter(_ != q).map { i =>
      val v = vs(i)
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += qv(d).toDouble * v(d); d += 1 }
      (i, dot / (qn * norm(v)))
    }.toSeq.sortBy { case (i, c) => (-c, i) }.take(k).map(_._1)
  }
}
