package graft.expectations

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Declarative data-quality expectations — the engine's one quality gate.
  * Every row-counting gate of the coin chain is a [[Suite]]: the V1 silver
  * contract ([[Suite.conforming]]), the reference's Great Expectations
  * suites (`great_expectations/expectations/coin_data_suite.json:4-39`, the
  * 4-expectation checkpoint variant, and the fluent in-DAG suite at
  * `dags/coin_data_pipeline_optimized.py:535-538`), the file-configured
  * checkpoint ([[GeCheckpoint]]), and V4 gold sanity and V5 gold quality
  * (`graft.ops.CoinOps`).
  *
  * Schema-level expectations (existence, type) are checked against the
  * schema on the driver with zero jobs. Row-level expectations compile to
  * one 0/1 indicator projection counted in ONE job with no shuffle: each
  * scan partition sums its indicators and the driver adds the partial sums
  * — never one job per expectation. Scale posture: one scan, constant-width
  * partial counts per partition, regardless of input size.
  */
sealed trait Expectation {
  def name: String
}

/** Schema-level: checked against `df.schema`, no job. */
final case class ColumnExists(column: String) extends Expectation {
  val name = s"expect_column_to_exist($column)"
}

/** Schema-level: declared Spark type must be `dataType` (after any cast). */
final case class OfType(column: String, dataType: DataType) extends Expectation {
  val name = s"expect_column_values_to_be_of_type($column, ${dataType.simpleString})"
}

/** Row-level: value must not be NULL (NaN counts as a violation for floats).
  * With `as`, the value checked is the column after `try_cast` to that type.
  */
final case class NotNull(column: String, as: Option[DataType] = None) extends Expectation {
  val name = s"expect_column_values_to_not_be_null($column${as.fold("")(t => s" as ${t.simpleString}")})"
}

/** Row-level: value > bound (or >= when `orEqual`). NULLs also violate. */
final case class GreaterThan(column: String, bound: Double, orEqual: Boolean = false)
    extends Expectation {
  val name = s"expect_column_values_to_be_${if (orEqual) ">=" else ">"}($column, $bound)"
}

/** Row-level: lo <= value <= hi. NULLs also violate. */
final case class Between(column: String, lo: Double, hi: Double) extends Expectation {
  val name = s"expect_column_values_to_be_between($column, $lo, $hi)"
}

/** Row-level: a non-NULL value must survive `try_cast` to `dataType`.
  * `try_cast`, not `cast`: under ANSI mode (Spark 4 default) a failed cast
  * throws mid-pass; the suite must *count* failures instead.
  */
final case class Castable(column: String, dataType: DataType) extends Expectation {
  val name = s"expect_column_values_to_be_castable($column, ${dataType.simpleString})"
}

/** Row-level: no row may satisfy `bad`, for row conditions the column
  * expectations cannot state. A row where `bad` is NULL does not violate
  * (SQL `when(bad, 1).otherwise(0)`).
  */
final case class NoRowsWhere(label: String, bad: Column) extends Expectation {
  val name = s"expect_no_rows_where($label)"
}

/** Table-level: at least one row, counted in the same pass. */
case object NonEmpty extends Expectation {
  val name = "expect_table_row_count_to_be_positive"
}

final case class ExpectationResult(name: String, violations: Long) {
  def passed: Boolean = violations == 0L
}

/** Raised by every daily quality gate (SURVEY §2.9 V1-V7): a [[Suite]]'s
  * `enforce` (`gate` is the suite's name, `failed` its failed results) and
  * the gates that count no rows (V3, V6, V7, the lake publish's
  * `non_empty`).
  */
final case class QualityGateFailure(gate: String, detail: String,
    failed: Seq[ExpectationResult] = Nil)
    extends RuntimeException(s"quality gate '$gate' failed: $detail")

final case class Suite(name: String, expectations: Seq[Expectation]) {

  /** `e` against `schema`: decided on the driver (`Left`, its violation
    * count) or per row (`Right`, the predicate a violating row satisfies).
    */
  private def decide(schema: StructType, e: Expectation): Either[Long, Column] = {
    def typeOf(c: String) = schema.find(_.name == c).map(_.dataType)
    def flag(ok: Boolean) = Left(if (ok) 0L else 1L)
    def missing(v: Column, dt: DataType) = dt match {
      case DoubleType | FloatType => v.isNull || isnan(v)
      case _                      => v.isNull
    }
    // A row-level expectation on a column the frame doesn't have can't be
    // compiled into the pass — report it failed instead of letting Spark's
    // analyzer throw UNRESOLVED_COLUMN.
    def at(c: String)(bad: Column => Column) =
      if (typeOf(c).isDefined) Right(bad(col(c))) else Left(1L)
    e match {
      case ColumnExists(c)         => flag(typeOf(c).isDefined)
      case OfType(c, dt)           => flag(typeOf(c).contains(dt))
      case NotNull(c, None)        => at(c)(missing(_, typeOf(c).get))
      case NotNull(c, Some(dt))    => at(c)(v => missing(v.try_cast(dt), dt))
      case Castable(c, dt)         => at(c)(v => v.isNotNull && v.try_cast(dt).isNull)
      case GreaterThan(c, b, orEq) => at(c)(v => !coalesce(if (orEq) v >= b else v > b, lit(false)))
      case Between(c, lo, hi)      => at(c)(v => !coalesce(v >= lo && v <= hi, lit(false)))
      case NoRowsWhere(_, bad)     => Right(bad)
      case NonEmpty                => Right(lit(true)) // counts every row
    }
  }

  /** The driver-decided results, the row-level expectations, and their 0/1
    * indicator projection `v0..vn` over `df`.
    */
  private def split(df: DataFrame): (Seq[ExpectationResult], Seq[Expectation], DataFrame) = {
    val (onDriver, rowLevel) = expectations.partitionMap(e => decide(df.schema, e) match {
      case Left(n)    => Left(ExpectationResult(e.name, n))
      case Right(bad) => Right(e -> bad)
    })
    (onDriver, rowLevel.map(_._1), df.select(rowLevel.zipWithIndex.map { case ((_, bad), i) =>
      when(bad, 1L).otherwise(0L).alias(s"v$i") }: _*))
  }

  /** The driver-decided results go to `gate` first, so a schema-level
    * failure can stop before any job; then every result, after ONE
    * counting job with no shuffle: each partition sums its indicators and
    * the driver adds the partial sums.
    */
  private def evaluate(df: DataFrame)(gate: Seq[ExpectationResult] => Unit): Seq[ExpectationResult] = {
    val (onDriver, rowLevel, indicators) = split(df)
    gate(onDriver)
    val k = rowLevel.size
    val partial =
      if (k == 0) Array.empty[Array[Long]]
      else {
        import df.sparkSession.implicits._
        indicators.mapPartitions { rows =>
          Iterator.single(rows.foldLeft(new Array[Long](k)) { (acc, r: Row) =>
            (0 until k).foreach(i => acc(i) += r.getLong(i)); acc })
        }.collect()
      }
    val results = onDriver ++ rowLevel.zipWithIndex.map { case (e, i) =>
      val n = partial.iterator.map(_(i)).sum
      ExpectationResult(e.name, if (e == NonEmpty) (if (n == 0L) 1L else 0L) else n)
    }
    gate(results)
    results
  }

  /** Evaluate all expectations: schema-level on the driver, row-level in one
    * counting pass. Returns every result (passed and failed).
    */
  def validate(df: DataFrame): Seq[ExpectationResult] = evaluate(df)(_ => ())

  /** Gate semantics: [[validate]], throwing [[QualityGateFailure]] named
    * after this suite on any failure; a schema-level one fails with no job.
    */
  def enforce(df: DataFrame): Seq[ExpectationResult] = evaluate(df) { results =>
    val failed = results.filterNot(_.passed)
    if (failed.nonEmpty)
      throw QualityGateFailure(name,
        failed.map(r => s"${r.name} (${r.violations} bad rows)").mkString("; "), failed)
  }

  /** The row-level expectations as a single-row violation-count DataFrame
    * (columns `v0..vn` in suite order) — the indicators `validate` counts,
    * summed by one composable aggregation for the oracle harness.
    */
  def violationsDf(df: DataFrame): DataFrame = {
    val (_, rowLevel, indicators) = split(df)
    require(rowLevel.nonEmpty, s"suite '$name' has no row-level expectations")
    val sums = indicators.columns.toSeq.map(c => sum(c).alias(c))
    indicators.agg(sums.head, sums.tail: _*)
  }
}

object Suite {

  /** A schema contract as a suite (V1, reference
    * `dags/coin_data_pipeline_optimized.py:419-429`: cast to
    * SILVER_SCHEMA_V1 with `safe=True`, any violation fails the partition).
    * Spark's `nullable = false` is advisory on read, so every field must
    * exist (on the driver: a missing one fails with no job) and survive
    * `try_cast` to its declared type, and a non-nullable field must be
    * non-NULL after it — non-NaN too for floating point (pandas NaN and SQL
    * NULL both violate a required field, SURVEY §7.4).
    */
  def conforming(name: String, contract: StructType): Suite =
    Suite(name, contract.fields.toSeq.flatMap { f =>
      Seq(ColumnExists(f.name), Castable(f.name, f.dataType)) ++
        (if (f.nullable) Nil else Seq(NotNull(f.name, Some(f.dataType))))
    })
}

/** The reference's three concrete suites. */
object Suites {

  /** 9-expectation suite (`great_expectations/expectations/coin_data_suite.json`). */
  val coinDataSuite: Suite = Suite(
    "coin_data_suite",
    Seq(
      ColumnExists("coin_id"),
      NotNull("coin_id"),
      ColumnExists("price_usd"),
      OfType("price_usd", DoubleType),
      GreaterThan("price_usd", 0d),
      ColumnExists("market_cap"),
      GreaterThan("market_cap", 0d),
      ColumnExists("timestamp"),
      NotNull("timestamp")
    )
  )

  /** 4-expectation checkpoint variant
    * (`great_expectations/checkpoints/coin_data_checkpoint.yml`).
    */
  val coinDataCheckpoint: Suite = Suite(
    "coin_data_checkpoint",
    Seq(
      NotNull("coin_id"),
      NotNull("price_usd"),
      OfType("price_usd", DoubleType),
      OfType("market_cap", DoubleType)
    )
  )

  /** Fluent in-DAG suite (`dags/coin_data_pipeline_optimized.py:535-538`). */
  val fluentSilverSuite: Suite = Suite(
    "fluent_silver_suite",
    Seq(
      NotNull("coin_id"),
      NotNull("market_cap"),
      NotNull("timestamp"),
      GreaterThan("price_usd", 0d, orEqual = true)
    )
  )
}
