package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.pipeline.RealEstatePipeline

class EtlGenSpec extends AnyFunSuite {

  private def withDirs[T](n: Int)(body: Seq[Path] => T): T = {
    val dirs = (1 to n).map(_ => Files.createTempDirectory("etlgen"))
    try body(dirs)
    finally dirs.foreach(d => Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.delete))
  }

  private def files(dir: Path): Seq[(String, Seq[Byte])] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).sortBy(_._1)

  test("one seed gives byte-identical inputs and expectations") {
    withDirs(3) { case Seq(a, b, c) =>
      val ga = EtlGen.generate(a, 11L, rows = 20000)
      val gb = EtlGen.generate(b, 11L, rows = 20000)
      assert(files(a) == files(b))
      assert(ga.copy(listingsDir = "", censusJson = "") == gb.copy(listingsDir = "", censusJson = ""))
      assert(EtlGen.generate(c, 12L, rows = 20000).checksum != ga.checksum)
    }
  }

  test("the pipeline's audit counts match what the generator knows") {
    withDirs(1) { case Seq(dir) =>
      val g = EtlGen.generate(dir, 5L, rows = 30000)
      assert(g.raw == 30000 && g.afterState < g.raw && g.afterNull < g.afterState &&
        g.afterCoverage < g.afterNull)
      val spark = SparkSession.builder().master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false").getOrCreate()
      try {
        val (df, s) = RealEstatePipeline.run(spark, g.listingsDir, g.censusJson,
          sampleSeed = 3L, maxAttempts = 1)
        assert((s.rawListings, s.afterStateFilter, s.afterNullClean, s.afterCoverage) ==
          (g.raw, g.afterState, g.afterNull, g.afterCoverage))
        assert(s.censusZips == g.censusZips && s.joined == 300 && s.matched == 300)
        df.unpersist()
      } finally spark.stop()
    }
  }
}
