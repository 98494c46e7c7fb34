package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session), built by
  * the same [[GraftSession]] every main uses — so the specs run in the
  * CLI's configuration, including the extension's real injection path
  * (ExtensionsSpec relies on it). Fixed 4 cores, not SPARK_GRAFT_CPUS:
  * plan-shape assertions must not depend on the environment.
  */
object TestSession {
  lazy val spark: SparkSession = GraftSession("graft-test", cores = 4,
    Map("spark.sql.warehouse.dir" -> new java.io.File("target/testtmp/warehouse").getAbsolutePath))
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** The registry's bench shapes (`QueryDef.bench`), keyed "name (bench)",
    * for the registry-wide sweeps that must cover what Bench times.
    */
  def benchShapes: Seq[(String, QueryDef.Builder)] =
    SparkEntry.registry.flatMap(d => d.bench.map(s"${d.name} (bench)" -> _))

  /** `df`'s rows as sorted JSON lines: equal output whatever the row order. */
  def jsonLines(df: org.apache.spark.sql.DataFrame): Seq[String] = df.toJSON.collect().sorted.toSeq

  /** How often each `regexp_extract(_, pattern, group)` appears in `df`'s
    * executed plan, AQE stages included: one per pattern and group means
    * each is evaluated once per row.
    */
  def regexpExtracts(df: org.apache.spark.sql.DataFrame): Map[(String, Int), Int] = {
    import org.apache.spark.sql.catalyst.expressions.RegExpExtract
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    nodes(df.queryExecution.executedPlan).flatMap(_.expressions)
      .flatMap(_.collect { case r: RegExpExtract => (r.regexp.eval().toString, r.idx.eval().asInstanceOf[Int]) })
      .groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** Scratch dir inside the repo target (never outside /root/repo).
    * Always starts EMPTY: append-mode writers (the streaming specs'
    * micro-batch files) must not see files left by a previous sbt run —
    * stale parts change results, and a schema change would otherwise
    * poison every later run (observed with the ts long→TIMESTAMP_NTZ
    * testdata migration).
    */
  def tmpDir(name: String): String = {
    val p = java.nio.file.Paths.get("target", "testtmp", name)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      // Files.walk holds directory streams open until closed — collect
      // first so the fd is released before the deletes run.
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { st =>
        st.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.toList
      }.foreach(java.nio.file.Files.delete)
    }
    java.nio.file.Files.createDirectories(p)
    p.toAbsolutePath.toString
  }
}
