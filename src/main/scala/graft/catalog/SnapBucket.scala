package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types._

/** HASH-BUCKET partition transform for snap tables — the layout that
  * makes storage-partitioned joins practical on HIGH-NDV keys, where
  * identity partitioning would mint one directory per value:
  * `CREATE TABLE ... PARTITIONED BY (bucket(16, k))` routes each row to
  * `_gbucket=<id>/` with `id = pmod(murmur3(k, seed 42), n)` — BY
  * CONSTRUCTION the same function as Spark SQL's `hash(k)`, so the
  * writer stages with a plain `pmod(hash(col), n)` expression and the
  * row-level/streaming writers recompute the identical id per row
  * ([[SnapBucket.bucketIdOf]] delegates to catalyst's
  * `Murmur3HashFunction`, the single definition all paths share).
  *
  * The function surface: Spark's storage-partitioned-join planner only
  * trusts a bucket transform when BOTH scan sides resolve the SAME
  * function through their catalog's [[FunctionCatalog]] — it binds
  * `bucket(numBuckets INT, col)` and compares the bound functions'
  * `canonicalName`. [[GraftCatalog]] exposes [[SnapBucket.Unbound]]
  * for exactly that handshake (Iceberg ships its bucket function the
  * same way). The canonical name carries the KEY TYPE because the hash
  * of an int and of a long differ — two tables bucketed on different
  * key types must never be treated as co-partitioned.
  *
  * Type scope: int / long / string keys (the practical join-key
  * types). INT keys hash AS LONGS (Iceberg's bucket-spec rule): the
  * murmur3 of an int and of a long differ, so promoting every int key
  * to 64 bits BEFORE hashing is what makes `ALTER COLUMN k TYPE
  * BIGINT` a metadata-only widening — every committed bucket
  * assignment is already the long-hash of the value, so nothing
  * re-buckets and a storage-partitioned join across the widening
  * stays zero-exchange (the canonical function name reports `bigint`
  * for both int and long keys for the same reason). String keys hash
  * their UTF-8 bytes; no widening applies. */
private[graft] object SnapBucket {

  /** Table property: `<col>,<n>`. Mutually exclusive with identity
    * `PARTITIONED BY` columns and with `graft.mor.key` (the delta
    * writer stages flat files that would break any layout). */
  val prop = "graft.partition.bucket"

  /** Bucket-hash discipline stamp, written at CREATE: `long` means int
    * keys promote to 64 bits BEFORE hashing (the r19 Iceberg-spec
    * rule that makes int->bigint widening metadata-only). A bucket
    * table with an INT key and NO stamp predates the rule — its
    * committed `_gbucket` directories are int-hash keyed, and serving
    * them under long-hash readers would silently prune wrong, so
    * [[GraftTable.readMeta]] refuses such a table (no writer produces
    * one: CREATE stamps every bucket table, and SET/UNSET of the stamp
    * are refused). Long/string keys hash identically under both rules,
    * so unstamped tables with those keys stay servable. */
  val hashVerProp = "graft.partition.bucket.hash"
  val hashVer = "long"

  /** A RETIRED bucket layout (Iceberg's DROP PARTITION FIELD, entered
    * via `UNSET TBLPROPERTIES ('graft.partition.bucket')`): committed
    * files keep their `_gbucket=<id>` directories and the scan keeps
    * parsing (and, while the key column lives, PRUNING) them, but new
    * writes stage flat, the table stops reporting a bucket
    * partitioning (no storage-partitioned join), and the former key
    * column becomes an ordinary column — droppable, like any other.
    * Same `<col>,<n>` rendering as [[prop]]. */
  val retiredProp = "graft.partition.bucket.retired"

  def ofRetired(props: Map[String, String]): Option[(String, Int)] =
    of(props.get(retiredProp).map(prop -> _).toMap)

  def of(props: Map[String, String]): Option[(String, Int)] =
    props.get(prop).flatMap { v =>
      val i = v.lastIndexOf(',')
      if (i <= 0) None
      else scala.util.Try(v.substring(i + 1).trim.toInt).toOption
        .map(n => v.substring(0, i) -> n)
    }

  def render(col: String, n: Int): String = s"$col,$n"

  /** The supported bucket-key types (see scaladoc). */
  def supported(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | StringType => true
    case _ => false
  }

  /** The synthetic single-int partition schema every bucket layout
    * presents to the file index — ONE definition (the scan builder,
    * the facade, and the streaming source all key off it). */
  val partSchema: StructType = StructType(Seq(StructField(
    graft.sources.Snapshots.bucketPathCol, IntegerType, nullable = false)))

  /** Retired-layout variant: NULLABLE, because post-retirement files
    * stage flat (no `_gbucket=` segment) and parse a NULL id, which
    * pruning always keeps. */
  val partSchemaRetired: StructType = StructType(Seq(StructField(
    graft.sources.Snapshots.bucketPathCol, IntegerType, nullable = true)))

  /** DataFrame-side staging: derive the synthetic segment with the
    * same seed-42 function [[bucketIdOf]] computes row-side, and route
    * through partitionBy — the one home of the write-path rule (the V1
    * writer and compaction both stage through this). */
  def stageBucketed(df: org.apache.spark.sql.DataFrame, col: String,
      n: Int): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.{col => c, hash, lit, pmod}
    // int keys promote to long BEFORE hashing (the widening-safe rule
    // bucketIdOf applies row-side) — a plain cast, so a NULL stays
    // NULL and hashes to the seed either way
    val key = df.schema(col).dataType match {
      case IntegerType => c(col).cast(LongType)
      case _ => c(col)
    }
    // Optionally cluster rows by bucket before the dynamic write (same
    // scale-dependent trade and knob as
    // [[SnapTransform.stageTransformed]] — unclustered, every task
    // creates a writer per bucket it sees: tasks × n creations for n
    // target files; clustered costs an exchange the bench-scale
    // fixtures measure as a net loss).
    val derived = df.withColumn(graft.sources.Snapshots.bucketPathCol,
      pmod(hash(key), lit(n)))
    graft.sources.Snapshots.clusterStaged(derived,
        Seq(graft.sources.Snapshots.bucketPathCol)).write
      .partitionBy(graft.sources.Snapshots.bucketPathCol)
  }

  /** One definition of the bucket id for every path — DataFrame writes
    * use the equivalent `pmod(hash(col), n)` (catalyst `Murmur3Hash`,
    * seed 42, truncated to int — this is the same computation). A NULL
    * key hashes to the seed itself, exactly like `hash(NULL)`. */
  def bucketIdOf(value: Any, dt: DataType, n: Int): Int = {
    // int keys hash as longs (see class doc): widening int->bigint
    // must preserve every committed assignment
    val (v2, dt2) = (value, dt) match {
      case (null, _) => (null, dt)
      case (i: java.lang.Integer, IntegerType) =>
        (java.lang.Long.valueOf(i.longValue()), LongType)
      case _ => (value, dt)
    }
    val h =
      if (v2 == null) 42
      else org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(v2, dt2, 42L).toInt
    java.lang.Math.floorMod(h, n)
  }

  /** The `bucket` function [[GraftCatalog.loadFunction]] serves. */
  object Unbound extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(numBuckets, col): graft hash bucket id — pmod(murmur3(col, 42), numBuckets)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2,
        s"bucket expects (numBuckets, col), got ${inputType.simpleString}")
      require(inputType.fields(0).dataType == IntegerType,
        s"bucket's first argument is the INT bucket count, got " +
          inputType.fields(0).dataType.simpleString)
      val dt = inputType.fields(1).dataType
      require(supported(dt),
        s"bucket keys must be int/long/string, got ${dt.simpleString}")
      Bound(dt)
    }
  }

  final case class Bound(dt: DataType) extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, dt)
    override def resultType(): DataType = IntegerType
    override def isResultNullable: Boolean = false
    override def name(): String = "bucket"
    // the KEY TYPE is part of the identity — EXCEPT int, which hashes
    // as long (bucketIdOf promotes), so int- and long-keyed sides of a
    // storage-partitioned join ARE co-partitioned and a widened table
    // keeps matching its unwidened twin
    override def canonicalName(): String = dt match {
      case IntegerType => s"graft.bucket(${LongType.simpleString})"
      case _ => s"graft.bucket(${dt.simpleString})"
    }
    override def produceResult(input: InternalRow): Integer = {
      val n = input.getInt(0)
      val v = if (input.isNullAt(1)) null else input.get(1, dt)
      Integer.valueOf(bucketIdOf(v, dt, n))
    }
  }
}
