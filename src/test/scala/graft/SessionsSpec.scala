package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Session building stays in one place: hand-copied builders drifted
  * before (the app ran without the engine's optimizer rules, a dev tool
  * planned without aggregate pushdown), so these guards fail the moment
  * one comes back.
  */
class SessionsSpec extends SparkSpec {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Map[String, String] =
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap

  /** Files matching `pattern`; the pattern must also match `home`, so a
    * guard can never pass by matching nothing.
    */
  private def outside(pattern: Regex, home: String): Seq[String] = {
    assert(sources.get(home).exists(pattern.findFirstIn(_).nonEmpty),
      s"guard pattern $pattern no longer matches $home")
    sources.collect { case (f, txt) if f != home && pattern.findFirstIn(txt).nonEmpty => f }
      .toSeq.sorted
  }

  test("only Sessions builds a SparkSession") {
    assert(outside("""SparkSession\s*\.\s*builder\b""".r, "graft/Sessions.scala").isEmpty)
  }

  test("only Sessions reads SPARK_GRAFT_CPUS, so only it writes a core-count default") {
    assert(outside("""(get|getOrElse|getenv)\s*\(\s*"SPARK_GRAFT_CPUS"""".r,
      "graft/Sessions.scala").isEmpty)
  }

  test("the tools declare no SparkListener beside the shared Recorder") {
    val listener = """(extends|new|with)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""".r
    assert(outside(listener, "graft/tools/Recorder.scala")
      .filter(_.startsWith("graft/tools/")).isEmpty)
  }

  test("PipelineApp's session, built as main builds it, serves rollups") {
    val suite = spark // the suite's context exists first; the app shares it
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val app = graft.app.PipelineApp.session(graft.app.GraftConfig.default)
      assert(app ne suite)
      assert(app.experimental.extraOptimizations.contains(graft.plans.RollupRewrite))
      assert(app.conf.get("spark.sql.parquet.aggregatePushdown") == "true")
    } finally {
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
  }
}
