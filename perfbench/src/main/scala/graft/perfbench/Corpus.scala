package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.sources.{Hdf5, NetCdf}
import graft.sources.NetCdf._

/** Seeded input generators. Everything the program reads is written here,
  * through the public container writers (`NetCdf.writeBytes`,
  * `Hdf5.writeBytes`) or Spark's parquet writer, and everything the output
  * checks compare against is derived from the same in-memory description.
  *
  * Values are binary fractions that float32 holds exactly (multiples of
  * 1/16), so decoded doubles, bounds tests and decimal sums are exact and
  * the expected aggregates need no tolerance beyond the final division.
  */
object Corpus {

  val Fill = 99999.0f
  /** Out-of-range stand-ins: each falls outside `Clean.MeasurementBounds`. */
  val OorPres = 6500.0f; val OorTemp = 45.0f; val OorPsal = 55.0f
  /** Profiles whose position fails `Clean.geoFilter`. */
  val BadLat = 95.5

  /** Container family of a healthy file. */
  sealed trait Family
  case object Cdf1 extends Family
  case object Cdf2 extends Family
  case object Hdf5Chunked extends Family

  /** One healthy Argo-shaped float file: `nProf` profiles of `nLev`
    * levels. `badGeo(p)` marks profiles that cleaning must drop; measure
    * arrays are row-major (profile, level) with fill/out-of-range cells
    * already substituted.
    */
  final case class FloatFile(
      name: String, floatId: Long, family: Family, upper: Boolean,
      charPlatform: Boolean, nProf: Int, nLev: Int, baseDay: Int,
      badGeo: Array[Boolean], pres: Array[Float], temp: Array[Float],
      psal: Array[Float]) {
    def juld(p: Int): Double = baseDay + p * 5 + 0.25
    def lat(p: Int): Double =
      if (badGeo(p)) BadLat else -70.0 + ((floatId * 7 + p * 3) % 140) + 0.5
    def lon(p: Int): Double = -180.0 + ((floatId * 11 + p * 17) % 360) + 0.5
    def rows: Int = nProf * nLev

    def bytes: Array[Byte] = {
      def nm(u: String, l: String) = if (upper) u else l
      val dims = Seq(NcDim("N_PROF", nProf), NcDim("N_LEVELS", nLev),
        NcDim("STRING8", 8))
      val fillAttr: Seq[(String, NcVal)] =
        if (upper) Seq("_FillValue" -> NcFloats(Array(Fill)))
        else Seq("missing_value" -> NcFloats(Array(Fill)))
      val platform =
        if (charPlatform) NcVar("PLATFORM_NUMBER", Seq(0, 2), NC_CHAR, Nil,
          NcChars(Array.fill(nProf)(floatId.toString.padTo(8, ' ')).mkString
            .getBytes("UTF-8")))
        else NcVar(nm("PLATFORM_NUMBER", "platform_number"), Seq(0), NC_DOUBLE,
          Nil, NcDoubles(Array.fill(nProf)(floatId.toDouble)))
      val vars = Seq(
        platform,
        NcVar(nm("CYCLE_NUMBER", "cycle_number"), Seq(0), NC_INT, Nil,
          NcInts(Array.tabulate(nProf)(_ + 1))),
        NcVar(nm("JULD", "time"), Seq(0), NC_DOUBLE,
          Seq("units" -> NcStr(
            if (upper) "days since 1950-01-01 00:00:00"
            else "hours since 1950-01-01 00:00:00")),
          NcDoubles(Array.tabulate(nProf)(p =>
            if (upper) juld(p) else juld(p) * 24.0))),
        NcVar(nm("LATITUDE", "latitude"), Seq(0), NC_DOUBLE, Nil,
          NcDoubles(Array.tabulate(nProf)(lat))),
        NcVar(nm("LONGITUDE", "longitude"), Seq(0), NC_DOUBLE, Nil,
          NcDoubles(Array.tabulate(nProf)(lon))),
        NcVar(nm("PRES", "pres"), Seq(0, 1), NC_FLOAT, fillAttr, NcFloats(pres)),
        NcVar(nm("TEMP", "temp"), Seq(0, 1), NC_FLOAT, fillAttr, NcFloats(temp)),
        NcVar(nm("PSAL", "psal"), Seq(0, 1), NC_FLOAT, fillAttr, NcFloats(psal)))
      val gatts = Seq("title" -> NcStr(s"synthetic Argo float $floatId"))
      family match {
        case Cdf1 => NetCdf.writeBytes(dims, gatts, vars, version = 1)
        case Cdf2 => NetCdf.writeBytes(dims, gatts, vars, version = 2)
        case Hdf5Chunked =>
          val chunk = math.max(1, nProf / 4)
          Hdf5.writeBytes(dims, gatts, vars, Hdf5.H5Opts(
            chunkBy = Seq("PRES", "TEMP", "PSAL").map(v => nm(v, v.toLowerCase) -> chunk).toMap))
      }
    }

    /** What `Pipeline.clean` keeps of this file and `Pipeline.floats`
      * reports for it — the closed form the batch checks compare against.
      */
    lazy val expected: Expected = {
      val keep = (0 until nProf).filterNot(badGeo(_))
      def stat(a: Array[Float], lo: Double, hi: Double): MeasureStat = {
        var n = 0L; var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
        var sum = BigDecimal(0)
        for (p <- keep; l <- 0 until nLev) {
          val v = a(p * nLev + l).toDouble
          if (v != Fill && v >= lo && v <= hi) {
            n += 1; mn = math.min(mn, v); mx = math.max(mx, v); sum += BigDecimal(v)
          }
        }
        MeasureStat(n, mn, mx, sum)
      }
      def ts(day: Double): String =
        java.time.LocalDateTime.of(1950, 1, 1, 0, 0)
          .plusSeconds(math.round(day * 86400.0))
          .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      Expected(floatId.toString, keep.size.toLong, keep.size.toLong * nLev,
        if (keep.isEmpty) "" else ts(juld(keep.head)),
        if (keep.isEmpty) "" else ts(juld(keep.last)),
        stat(temp, -5.0, 40.0), stat(psal, 0.0, 50.0), stat(pres, 0.0, 6000.0))
    }
  }

  final case class MeasureStat(count: Long, min: Double, max: Double, sum: BigDecimal) {
    /** `Stats.exactMean`: exact decimal sum, one double division, then
      * `parityRound(_, 6)`. */
    def mean: Double =
      if (count == 0) Double.NaN
      else math.floor(sum.toDouble / count * 1e6 + 0.5) / 1e6
  }

  /** Expected `Pipeline.floats` row of one float. */
  final case class Expected(floatId: String, nProfiles: Long, nRows: Long,
      firstTs: String, lastTs: String, temp: MeasureStat, psal: MeasureStat,
      pres: MeasureStat) {
    def eavRows: Long = temp.count + psal.count + pres.count
  }

  /** Build one float file description. Shape and the shares of fill and
    * out-of-range cells come from the caller; cell placement from `rnd`.
    */
  def floatFile(rnd: SplittableRandom, name: String, floatId: Long,
      family: Family, nProf: Int, nLev: Int): FloatFile = {
    val fillShare = rnd.nextDouble() * 0.08
    val oorShare = rnd.nextDouble() * 0.05
    val badGeoShare = rnd.nextDouble() * 0.1
    val n = nProf * nLev
    def cell(good: Float, oor: Float): Float = {
      val u = rnd.nextDouble()
      if (u < fillShare) Fill else if (u < fillShare + oorShare) oor else good
    }
    val pres = new Array[Float](n); val temp = new Array[Float](n)
    val psal = new Array[Float](n)
    for (p <- 0 until nProf; l <- 0 until nLev) {
      val i = p * nLev + l
      pres(i) = cell(l * 4.0f + (p % 4) * 0.5f, OorPres)
      temp(i) = cell(29.0f - l * 0.0625f - (p % 5) * 0.125f, OorTemp)
      psal(i) = cell(33.5f + (l % 16) * 0.0625f + (p % 3) * 0.125f, OorPsal)
    }
    FloatFile(name, floatId, family, upper = rnd.nextBoolean(),
      charPlatform = rnd.nextInt(3) == 0, nProf, nLev,
      baseDay = 18300 + rnd.nextInt(8000),
      badGeo = Array.fill(nProf)(rnd.nextDouble() < badGeoShare),
      pres, temp, psal)
  }

  /** Deterministic Fisher-Yates shuffle. */
  def shuffle[A](xs: Seq[A], rnd: SplittableRandom): Vector[A] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector
  }

  /** The three kinds of corrupt upload the scan must quarantine, cut from
    * a healthy file's bytes: a truncated classic header, a non-NetCDF
    * payload, a truncated HDF5 superblock.
    */
  def corruptBytes(kind: Int, healthy: FloatFile): Array[Byte] = kind % 3 match {
    case 0 => healthy.copy(family = Cdf1).bytes.take(40)
    case 1 => s"not a netcdf container ${healthy.floatId}".getBytes("UTF-8")
    case _ => healthy.copy(family = Hdf5Chunked).bytes.take(60)
  }

  /** Batch corpus: `nGood` healthy files whose shapes are a fixed multiset
    * (so every seed decodes the same number of (profile, level) rows) dealt
    * to files and container families in seeded order, plus `nCorrupt`
    * corrupt files.
    */
  final case class ArgoCorpus(files: Vector[FloatFile], corrupt: Vector[(String, Array[Byte])]) {
    def rows: Long = files.map(_.rows.toLong).sum
    def write(dir: Path): Unit = {
      Files.createDirectories(dir)
      files.foreach(f => Files.write(dir.resolve(f.name), f.bytes))
      corrupt.foreach { case (n, b) => Files.write(dir.resolve(n), b) }
    }
  }

  def argoCorpus(seed: Long, nGood: Int, nCorrupt: Int): ArgoCorpus = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    // shapes: profiles 12..40, levels 50..150, about 26 x 100 rows per file
    val shapes = shuffle((0 until nGood).map { i =>
      (12 + (i * 7) % 29, 50 + (i * 37) % 101)
    }, rnd)
    val families = shuffle((0 until nGood).map { i =>
      if (i % 5 == 0) Hdf5Chunked else if (i % 5 <= 2) Cdf1 else Cdf2
    }, rnd)
    val idBase = 1000000L + (seed.abs % 1000) * 10000
    val files = (0 until nGood).toVector.map { i =>
      val (np, nl) = shapes(i)
      floatFile(rnd, f"float_$i%03d.nc", idBase + i, families(i), np, nl)
    }
    val corrupt = (0 until nCorrupt).toVector.map { j =>
      (f"upload_bad_$j%02d.nc", corruptBytes(j + rnd.nextInt(3), files(j)))
    }
    ArgoCorpus(files, corrupt)
  }

  // ------------------------------------------------------------ documents

  /** Shape of the fixture `documents` table (`documents.parquet`, 5,000
    * rows): `lang` is `en` for 41% of rows and one of the other four
    * otherwise, `source` cycles through 20 values by `doc_id`, a text has 10
    * to 100 words (uniform) drawn evenly from 30 words, and `n_chars` is the
    * text length.
    */
  val Langs: Vector[String] = Vector("en", "zh", "es", "fr", "de")
  val EnShare = 0.41
  val Sources: Vector[String] = (0 until 20).map(i => s"src$i").toVector
  val Words: Vector[String] = Vector(
    "batch", "part", "spark", "line", "column", "order", "small", "sort", "fast",
    "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big",
    "key", "window", "row", "table", "stream", "merge", "data", "join", "vector",
    "customer", "the", "a")

  final case class Doc(id: Long, text: String, lang: String, source: String) {
    def nChars: Long = text.length.toLong
  }

  /** `n` documents shaped like the fixture `documents` table. */
  def documents(seed: Long, n: Int): Vector[Doc] = {
    val rnd = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 7)
    Vector.tabulate(n) { i =>
      val text = Vector.fill(10 + rnd.nextInt(91))(Words(rnd.nextInt(Words.size))).mkString(" ")
      val lang = if (rnd.nextDouble() < EnShare) "en" else Langs(1 + rnd.nextInt(4))
      Doc(i.toLong, text, lang, Sources(i % Sources.size))
    }
  }
}
