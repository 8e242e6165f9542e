package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Guards the single session definition: the tests run the config that Verify
  * and Bench run, and no second hand-built session can drift away from it. */
class GraftSessionSpec extends SparkSpec {

  /** Names of the .scala files under `dir` whose source satisfies `p`, sorted. */
  private def filesContaining(dir: String, p: String => Boolean): Seq[String] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root: no $dir")
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .filter(f => p(Files.readString(f))).map(_.getFileName.toString).toList.sorted
    finally s.close()
  }

  test("the shared test session runs the GraftSession config") {
    val c = spark.conf
    assert(c.get("spark.sql.ansi.enabled") == "true")
    assert(c.get("spark.sql.adaptive.enabled") == "true")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.extensions") == "graft.expr.GraftExtensions")
  }

  test("GraftSession.scala is the only session builder; Bench and Verify the only mains") {
    val builder = "SparkSession" + ".builder"
    assert(filesContaining("src", _.contains(builder)) == Seq("GraftSession.scala"))
    val mainDef = """def\s+main\s*\(""".r
    assert(filesContaining("src/main", mainDef.findFirstIn(_).isDefined) ==
      Seq("Bench.scala", "Verify.scala"))
  }
}
