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
}
