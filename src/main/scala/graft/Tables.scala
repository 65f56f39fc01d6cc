package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

import graft.operators.OperatorCaches

/** A table column arrived with a physical type the conformance layer has
  * no safe coercion for. Named (table, column, actual, canonical) so a
  * regenerated corpus fails LOUDLY at load with the exact drift in the
  * message, instead of 50 queries downstream with a cast error.
  */
final case class SchemaDriftError(table: String, column: String,
    actual: DataType, canonical: DataType)
  extends RuntimeException(
    s"unsupported schema drift: $table.$column arrived as " +
    s"${actual.simpleString}, canonical is ${canonical.simpleString}")

/** A canonical column is absent from the file entirely. */
final case class MissingColumnError(table: String, column: String)
  extends RuntimeException(
    s"schema drift: table $table is missing canonical column $column")

/** Loaders for the driver-generated TPC-H-ish parquet testdata
  * (see TESTDATA.md). All queries take the scale-factor directory as a
  * runtime argument so the same plan runs at any scale.
  *
  * Every load passes through ONE declarative conformance layer
  * (`conform`): each table has a pinned canonical logical schema, and a
  * column whose physical type drifts from it is coerced iff a safe
  * coercion exists, else the load fails with a named error. This
  * replaces the round-6/7 ad-hoc adapters (`restoreTs` for the
  * `events.ts` nanos→micros drift, an embeddings `array<double>` guard)
  * with one rule table — physical-type drift in regenerated testdata is
  * the only failure class that has recurred across rounds, and this is
  * the insurance against it. When nothing drifts (the common case) the
  * DataFrame is returned untouched: no projection enters the plan.
  *
  * A served dir resolves each table once per file listing
  * ([[OperatorCaches.resolved]]); every other load reads its files
  * afresh.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Pinned canonical logical schema per table — the types every query
    * and oracle was written against, exactly as Spark reads the current
    * corpus (so conformance is a no-op today):
    *
    *  - TPC-H date columns (`o_orderdate`, `l_shipdate`) are
    *    TIMESTAMP_NTZ — the files carry TIMESTAMP(MICROS) with
    *    isAdjustedToUTC=false and queries compare them against NTZ
    *    literals.
    *  - `events.ts` is pinned to session-TZ TimestampType: windows,
    *    watermarks and the streaming twins all operate on it, and
    *    Structured Streaming event time must be TimestampType.
    *  - `embeddings.embedding` is array<float>: the typed collect paths
    *    (KMeans / PQ codebook locals) decode `Array[Float]`.
    */
  val canonical: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq(
      "r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq(
      "event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType))

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // self-install graft's native functions + nanos conf so queries work
    // even in sessions not built from `sessionConfs` (idempotent)
    GraftExtensions.ensure(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    conform(name, OperatorCaches.resolved(spark, sfDir, name)(
      spark.read.parquet(s"$sfDir/$name.parquet")))
  }

  /** Coerce every drifted column of `df` to its pinned canonical type.
    * Untouched pass-through when nothing drifts; `SchemaDriftError` /
    * `MissingColumnError` when a drift has no safe coercion. Works on
    * batch AND streaming frames (it is only a projection). Columns not
    * in the canonical map (derived frames, future additions) pass
    * through unchanged.
    */
  def conform(table: String, df: DataFrame): DataFrame =
    canonical.get(table).fold(df) { want =>
      val actual = df.schema.fields.map(f => f.name -> f.dataType).toMap
      want.foreach { case (c, _) =>
        if (!actual.contains(c)) throw MissingColumnError(table, c) }
      val wantMap = want.toMap
      if (want.forall { case (c, t) => actual(c) == t }) df
      else df.select(df.columns.toIndexedSeq.map { c =>
        wantMap.get(c).filter(_ != actual(c))
          .fold(col(c))(t => coerce(table, c, actual(c), t).as(c))
      }: _*)
    }

  private val integral: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)

  /** The safe-coercion rule table (actual physical → pinned canonical):
    *
    *  - long → timestamp: nanos-since-epoch (Spark rejects
    *    TIMESTAMP(NANOS) parquet unless `nanosAsLong=true`, which
    *    delivers a LONG) → exact integer division to microseconds, the
    *    same ns→µs truncation DuckDB applies reading such a file.
    *  - TIMESTAMP ↔ TIMESTAMP_NTZ: value-identity cast under the UTC
    *    session TZ (both directions; files differ only in
    *    isAdjustedToUTC).
    *  - date → timestamp[_ntz]: midnight cast.
    *  - integral ↔ integral: key-width drift (int32 ids regenerated as
    *    int64 or vice versa); ids fit in int32 at every test SF and a
    *    genuinely overflowing narrow cast would fail queries loudly.
    *  - float ↔ double, decimal → float/double: measure-column
    *    precision drift.
    *  - integral → float/double, decimal(p,0) → integral: lossless
    *    numeric widening.
    *  - array<float> ↔ array<double>: embedding element drift.
    *
    * Everything else — including ANY drift into or out of StringType and
    * fractional → integral truncation — is not safely coercible and
    * raises `SchemaDriftError` naming the exact (table, column, types).
    */
  private def coerce(table: String, c: String, from: DataType,
      to: DataType): Column = (from, to) match {
    case (LongType, TimestampType) =>
      expr(s"timestamp_micros(`$c` div 1000)")
    case (LongType, TimestampNTZType) =>
      expr(s"cast(timestamp_micros(`$c` div 1000) as timestamp_ntz)")
    case (TimestampNTZType, TimestampType) => col(c).cast(TimestampType)
    case (TimestampType, TimestampNTZType) => col(c).cast(TimestampNTZType)
    case (DateType, TimestampType) => col(c).cast(TimestampType)
    case (DateType, TimestampNTZType) => col(c).cast(TimestampNTZType)
    case (f, t) if integral(f) && integral(t) => col(c).cast(t)
    case (FloatType | DoubleType, FloatType | DoubleType) => col(c).cast(to)
    case (_: DecimalType, FloatType | DoubleType) => col(c).cast(to)
    case (d: DecimalType, t) if d.scale == 0 && integral(t) =>
      col(c).cast(t)
    case (f, FloatType | DoubleType) if integral(f) => col(c).cast(to)
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
         (ArrayType(DoubleType, _), ArrayType(FloatType, _)) |
         (ArrayType(FloatType, _), ArrayType(DoubleType, _)) |
         (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
      col(c).cast(to)
    case _ => throw SchemaDriftError(table, c, from, to)
  }

  /** Events with `ts` conformed (kept as the familiar entry point;
    * `load` already conforms).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "events")

  /** Streaming-side entry to the same `ts` rule: normalize a frame's
    * `ts` to session-TZ TimestampType whatever the physical arrival
    * type (nanos-long / NTZ micros / native). Delegates to `conform`'s
    * rule table via a single-column canonical view.
    */
  def restoreTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case TimestampType => df
      case from =>
        df.withColumn("ts", coerce("events", "ts", from, TimestampType))
    }

  /** Session options every graft session needs: nanos handling + the
    * native-expression registry (vec_dot, minhash_sig).
    */
  val sessionConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // let AQE re-plan cached frames too: several operators cache mid-
    // pipeline (CC loop rounds, shingle sets), and with the default
    // `false` those subtrees are planned WITHOUT adaptive execution —
    // full-width shuffles and no runtime broadcast conversion on
    // exactly the tiny iterative frames that benefit most
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

}
