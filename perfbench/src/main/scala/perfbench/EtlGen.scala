package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.CRC32C

/** What the generator knows about the inputs it wrote: the pipeline's audit
  * counts (raw, after the state filter, after the null clean, after census
  * coverage) and a checksum of every byte, so two generations can be
  * compared for byte identity. */
final case class EtlInputs(listingsDir: String, censusJson: String, raw: Long,
                           afterState: Long, afterNull: Long,
                           afterCoverage: Long, censusZips: Int,
                           checksum: String)

/** Seeded, realtor-shaped inputs for the `etl` workload: an all-string
  * listings CSV (the reference's 12 raw columns) split over [[Parts]] files
  * written in parallel, and a one-array multiLine census JSON.
  *
  * Five states, three of them targets; 110 ZIPs per state of which the
  * first 100 of each target state are census-covered; independent null
  * stripes on the five columns the pipeline's clean step tests. Every value
  * is drawn from a per-file `SplittableRandom` seeded from the run seed, so
  * one seed always gives the same bytes. */
object EtlGen {

  /** The reference's ASL-declared listings count. */
  val Rows = 2226382L
  val Parts = 4
  val CoveredZips = 100
  val ZipsPerState = 110
  val States: Seq[(String, Int)] = Seq("Massachusetts" -> 1, "California" -> 93,
    "New York" -> 10, "Texas" -> 73, "Florida" -> 33)
  val Targets = 3
  private val Abbr = Seq("MA", "CA", "NY")
  private val Header = "brokered_by,status,price,bed,bath,acre_lot,street," +
    "city,state,zip_code,house_size,prev_sold_date"
  private val Statuses = Array("for_sale", "sold", "ready_to_build")
  private val Streets = Array("Main", "Oak", "Pine", "Maple", "Cedar", "Elm",
    "Lake", "Hill", "Park", "River")

  def zip(prefix: Int, j: Int): String = f"$prefix%02d$j%03d"

  private def rng(seed: Long, stream: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Writes the inputs under `dir` (replacing any earlier ones). */
  def generate(dir: Path, seed: Long, rows: Long = Rows): EtlInputs = {
    val listings = dir.resolve("listings_csv")
    Files.createDirectories(listings)
    val parts = (0 until Parts).map { p =>
      val from = rows * p / Parts
      val until = rows * (p + 1) / Parts
      val f = listings.resolve(f"part-$p%05d.csv")
      new java.util.concurrent.FutureTask(() => writePart(f, seed, p, until - from))
    }
    parts.foreach(t => new Thread(t, "etl-gen").start())
    val counts = parts.map(_.get())
    val census = dir.resolve("census.json")
    val censusCrc = writeCensus(census, seed)
    EtlInputs(listings.toString, census.toString,
      raw = rows,
      afterState = counts.map(_(0)).sum,
      afterNull = counts.map(_(1)).sum,
      afterCoverage = counts.map(_(2)).sum,
      censusZips = Targets * CoveredZips,
      checksum = (counts.map(_(3)) :+ censusCrc).map(c => f"$c%08x").mkString("-"))
  }

  /** One listings file; returns (in-state, clean, covered, crc). */
  private def writePart(f: Path, seed: Long, part: Int, n: Long): Array[Long] = {
    val r = rng(seed, part)
    val crc = new CRC32C
    val out = new BufferedOutputStream(new FileOutputStream(f.toFile), 1 << 20)
    val sb = new java.lang.StringBuilder(1 << 17)
    def flush(): Unit = {
      val b = sb.toString.getBytes(UTF_8)
      out.write(b); crc.update(b, 0, b.length); sb.setLength(0)
    }
    var inState, clean, covered = 0L
    sb.append(Header).append('\n')
    var i = 0L
    while (i < n) {
      val st = r.nextInt(States.length)
      val zj = r.nextInt(ZipsPerState)
      val priceNull = r.nextInt(97) == 0
      val sizeNull = r.nextInt(101) == 0
      val bedNull = r.nextInt(211) == 0
      val bathNull = r.nextInt(307) == 0
      sb.append('b').append(r.nextInt(100000)).append(',')
        .append(Statuses(r.nextInt(Statuses.length))).append(',')
      if (!priceNull) sb.append(50000 + r.nextInt(1950000))
      sb.append(',')
      if (!bedNull) sb.append(1 + r.nextInt(6))
      sb.append(',')
      if (!bathNull) sb.append(1 + r.nextInt(4))
      val lot = r.nextInt(1000)
      sb.append(",").append(lot / 100).append('.').append(lot % 100 / 10)
        .append(lot % 10).append(',')
        .append(1 + r.nextInt(9999)).append(' ')
        .append(Streets(r.nextInt(Streets.length))).append(" St,City")
        .append(r.nextInt(500)).append(',')
        .append(States(st)._1).append(',')
        .append(zip(States(st)._2, zj)).append(',')
      if (!sizeNull) sb.append(400 + r.nextInt(5600))
      val y = 1990 + r.nextInt(33)
      val m = 1 + r.nextInt(12)
      val d = 1 + r.nextInt(28)
      sb.append(',').append(y).append(if (m < 10) "-0" else "-").append(m)
        .append(if (d < 10) "-0" else "-").append(d).append('\n')
      if (st < Targets) {
        inState += 1
        if (!(priceNull || sizeNull || bedNull || bathNull)) {
          clean += 1
          if (zj < CoveredZips) covered += 1
        }
      }
      if (sb.length > (1 << 16)) flush()
      i += 1
    }
    flush()
    out.close()
    Array(inState, clean, covered, crc.getValue)
  }

  /** The census file: one record per covered ZIP of each target state, with
    * every field present, so the pipeline's match rate measures join
    * coverage only. Returns the file's crc. */
  private def writeCensus(f: Path, seed: Long): Long = {
    val r = rng(seed, Parts)
    val recs = for {
      s <- 0 until Targets
      j <- 0 until CoveredZips
    } yield {
      val z = zip(States(s)._2, j)
      s"""  {"zip_code": "$z", "state": "${Abbr(s)}", "name": "ZCTA5 $z", """ +
        s""""median_income": ${30000 + r.nextInt(120000)}, """ +
        s""""population": ${1000 + r.nextInt(60000)}, """ +
        s""""college_educated_pct": ${r.nextInt(800) / 10.0}, """ +
        s""""unemployment_rate": ${r.nextInt(150) / 10.0}, """ +
        s""""median_age": ${22 + r.nextInt(40)}, """ +
        s""""data_source": "US Census Bureau ACS 2021"}"""
    }
    val b = recs.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8)
    Files.write(f, b)
    val crc = new CRC32C
    crc.update(b, 0, b.length)
    crc.getValue
  }
}
