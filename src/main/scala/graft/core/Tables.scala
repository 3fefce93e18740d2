package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Testdata star-schema access (TESTDATA.md). One parquet file per table
  * under the scale-factor dir passed to every query: `{dir}/{name}.parquet`.
  *
  * View-registration mirrors the reference's catalog convention: view name =
  * last path segment (reference scripts/spark_ops.py:49-64).
  *
  * Every source-table read goes through [[t]] (or
  * [[registerViewFromPath]]), which reads with a memoized schema;
  * `SourceReadSpec` fails on a source read anywhere else. A
  * plain `spark.read.parquet(path)` infers the schema on every call, and
  * Spark's parquet inference always launches a one-task job to read a
  * footer: one job per read, 70–110 ms of planning on ops whose warm
  * latency is a few hundred ms. `spark.read.schema(memo).parquet(path)`
  * plans with no job; the file listing still runs per read.
  *
  * The memo key is the path, its [[sourceFingerprint]] and the session's
  * values of `inferenceConfs`, so the memo serves exactly the schema
  * a fresh inference would give: a table regenerated in place, or a
  * session that infers differently (`binaryAsString`, `nanosAsLong`,
  * ...), misses and re-infers. Neither key nor value holds a session,
  * so the per-call clones of `Streams.withStatePartitions` are never
  * pinned. A miss evicts every entry of the same path with another
  * fingerprint (the [[Registry]]'s one-generation rule), which bounds
  * the memo at one generation per path and conf combination.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** Confs that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive")

  private final case class SchemaKey(path: String, fingerprint: String,
                                     confs: Seq[String])

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]()

  /** A path that is not a local file keeps plain inference: its
    * fingerprint could not see an in-place regeneration. */
  private def read(spark: SparkSession, path: String): DataFrame =
    if (new java.io.File(path).exists)
      spark.read.schema(schemaOf(spark, path)).parquet(path)
    else spark.read.parquet(path)

  /** The schema `spark.read.parquet(path)` infers in `spark`, inferred
    * once per key. Inference runs outside any lock: two racing misses
    * both infer the same schema and the last put wins. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val key = SchemaKey(path, sourceFingerprint(path),
      inferenceConfs.map(c => spark.conf.getOption(c).orNull))
    Option(schemas.get(key)).getOrElse {
      val inferred = spark.read.parquet(path).schema
      schemas.keySet.removeIf(k =>
        k.path == path && k.fingerprint != key.fingerprint)
      schemas.put(key, inferred)
      inferred
    }
  }

  /** Memo entries held for `path` — eviction observability for specs. */
  private[core] def memoized(path: String): Int =
    schemas.keySet.stream.filter(_.path == path).count.toInt

  /** Content fingerprint of a source table's files (names + sizes +
    * mtimes): temp/staging dirs keyed on it auto-invalidate when the
    * driver regenerates testdata in place — a staging copy keyed on the
    * path alone would silently serve STALE data against a fresh oracle.
    * 64-bit md5 prefix, not String.hashCode: a 32-bit collision would
    * silently reuse a stale staging dir, the exact failure the
    * fingerprint exists to prevent. */
  def sourceFingerprint(path: String): String = {
    val f = new java.io.File(path)
    val parts = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq(f))
    val sig = parts.map(p => s"${p.getName}:${p.length}:${p.lastModified}")
      .sorted.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest((path + "|" + sig).getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }

  /** Register every star-schema table as a temp view named after the table.
    * Idempotent; used by SQL-text queries (ordinal group-by etc.). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))

  /** Reference-style view registration: name = last path segment
    * (reference scripts/spark_ops.py:62-64). */
  def registerViewFromPath(spark: SparkSession, path: String): DataFrame = {
    val df = read(spark, path)
    val name = new org.apache.hadoop.fs.Path(path).getName
      .stripSuffix(".parquet")
    df.createOrReplaceTempView(name)
    df
  }
}
