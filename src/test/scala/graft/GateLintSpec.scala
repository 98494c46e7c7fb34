package graft

import org.apache.spark.sql.types._

/** Registry-wide OUTPUT-SCHEMA lints for the cross-engine gate.
  *
  * The r11 lesson: the only 3 hash-red rows in `CORRECTNESS_r11.json`
  * (q_readability, q_sq8, q_table_digest) were the only 3 registry
  * queries whose OUTPUT schema carried a decimal with precision > 18 —
  * the driver's comparator renders wide decimals differently between
  * its Spark-parquet and DuckDB read paths, so a value-identical result
  * still hash-mismatches. Wide decimals are fine INTERNALLY (exact
  * order-free accumulators); they must be folded to double, BIGINT, or
  * a ≤18-precision decimal before they surface. This suite fails any
  * query that would reintroduce one, before the driver does.
  *
  * Schemas come from analysis only — nothing executes.
  */
class GateLintSpec extends SparkTestBase {

  /** All DecimalTypes reachable in a DataType, through struct/array/map. */
  private def decimals(dt: DataType): Seq[DecimalType] = dt match {
    case d: DecimalType    => Seq(d)
    case s: StructType     => s.fields.toSeq.flatMap(f => decimals(f.dataType))
    case a: ArrayType      => decimals(a.elementType)
    case m: MapType        => decimals(m.keyType) ++ decimals(m.valueType)
    case _                 => Nil
  }

  // Verified shapes only: bench shapes never reach the oracle comparator.
  test("registry-wide: no query output schema carries a decimal with precision > 18") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val wide = fn(spark, sf).schema.fields.toSeq.flatMap { f =>
        decimals(f.dataType).filter(_.precision > 18).map(d => s"${f.name}: $d")
      }
      if (wide.nonEmpty) Some(s"$name [${wide.mkString(", ")}]") else None
    }
    assert(offenders.isEmpty,
      s"wide-decimal OUTPUT columns hash-diverge across the driver's read paths " +
        s"(r11: q_readability/q_sq8/q_table_digest) — fold to double/BIGINT first: " +
        offenders.mkString("; "))
  }

  // Source lint: Scaladoc attaches only the LAST of two stacked doc
  // comments, so the first documents nothing and the next definition can
  // show a neighbour's doc. Reads src/main from the project root (the
  // forked test JVM's working directory).
  test("source lint: no doc comment in src/main is followed directly by another") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"found only ${files.size} sources under $root")
    // The offset of each doc comment that ends where, after whitespace,
    // another begins.
    def stacked(text: String): Iterator[Int] =
      Iterator.iterate(text.indexOf("/**"))(i => text.indexOf("/**", text.indexOf("*/", i + 3) max i + 3))
        .takeWhile(_ >= 0)
        .filter { i =>
          val end = text.indexOf("*/", i + 3)
          end >= 0 && text.startsWith("/**", text.indexWhere(!_.isWhitespace, end + 2))
        }
    val offenders = files.sortBy(_.toString).flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      stacked(text).map(i => s"$p:${text.take(i).count(_ == '\n') + 1}")
    }
    assert(offenders.isEmpty, s"stacked doc comments (the first attaches to nothing): ${offenders.mkString(", ")}")
  }
}
