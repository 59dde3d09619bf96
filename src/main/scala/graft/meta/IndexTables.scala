package graft.meta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogTable}

/** The repo's one index-table convention: every managed table graft
  * persists (the LSH, IVF, IVF-PQ, BM25 and window indexes, the
  * co-bucketed join tables) is created, appended to, rewritten and
  * described here, and no other module calls `saveAsTable`, `bucketBy` or
  * the session catalog itself.
  *
  * LAYOUT: a bucketed table is bucketed AND sorted on the same columns
  * ([[overwrite]]), so every later equi-join or aggregation on them reads
  * co-located buckets with no shuffle. From then on the catalog bucket
  * spec is the one source of that layout: [[append]] and [[rewrite]] read
  * it from the catalog, so no caller restates a bucket count or a sort
  * column that could drift from the files already written.
  *
  * PARAMETERS: an index's build parameters (hash and band counts, shingle
  * and window widths, the IVF-PQ refresh epoch) are `graft.*` properties
  * of the table its probes read. Appends keep them and [[rewrite]] carries
  * them over, so a probe reads the parameters of the build that wrote the
  * rows it probes.
  *
  * ORPHAN DIRS: every create first clears a dir a previous JVM left with
  * no catalog entry ([[dropOrphanDir]]).
  */
object IndexTables {

  private val Prefix = "graft."

  private def metadata(spark: SparkSession, table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  private def quoted(spark: SparkSession, table: String): String =
    spark.sessionState.sqlParser.parseTableIdentifier(table).quotedString

  /** The one writer: bucketed and sorted by `spec` when given. */
  private def save(df: DataFrame, table: String, mode: String,
      spec: Option[BucketSpec]): Unit = {
    val w = spec.fold(df.write) { s =>
      val b = df.write.bucketBy(s.numBuckets, s.bucketColumnNames.head,
        s.bucketColumnNames.tail: _*)
      if (s.sortColumnNames.isEmpty) b
      else b.sortBy(s.sortColumnNames.head, s.sortColumnNames.tail: _*)
    }
    w.mode(mode).saveAsTable(table)
  }

  private def requireBucketSpec(table: String, meta: CatalogTable): BucketSpec =
    meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table has no bucket spec — not a graft-written bucketed table"))

  /** Creates or replaces `table` with `df`, bucketed `buckets` ways by
    * `bucketCols` and sorted by them when `bucketCols` is non-empty. A
    * replaced table starts with no `graft.*` properties.
    */
  def overwrite(df: DataFrame, table: String, bucketCols: Seq[String] = Nil,
      buckets: Int = 0): Unit = {
    require(bucketCols.isEmpty || buckets > 0, s"$table: buckets must be positive")
    dropOrphanDir(df.sparkSession, table)
    save(df, table, "overwrite",
      Option.when(bucketCols.nonEmpty)(BucketSpec(buckets, bucketCols, bucketCols)))
  }

  /** Appends `df` to the bucketed `table` under its own catalog bucket
    * spec; an unbucketed or missing table fails before any write.
    */
  def append(df: DataFrame, table: String): Unit =
    save(df, table, "append",
      Some(requireBucketSpec(table, metadata(df.sparkSession, table))))

  /** Rewrites the bucketed `table` in place as `transform` of its rows,
    * under its own catalog bucket spec and with its `graft.*` properties.
    * Returns the data-file counts (before, after).
    *
    * Auto bucketed scan is off for the read, so the read is bucket-aligned
    * and the writer emits one file per non-empty bucket: a row-level
    * `transform` (filter, project) also compacts. (With it on, Spark may
    * pick a plain split scan and write a file-set per split; a
    * `repartition(n, bucketCols)` is elided against the table's claimed
    * distribution.) A transform that moves rows between buckets still
    * writes correctly but forfeits the aligned read.
    *
    * The rows land in a temp table, which gets the properties, before
    * DROP + RENAME: readers never race the overwrite, and a crash leaves
    * the intact original or the intact copy under the temp name.
    */
  def rewrite(spark: SparkSession, table: String)(
      transform: DataFrame => DataFrame): (Int, Int) = {
    val meta = metadata(spark, table)
    val spec = requireBucketSpec(table, meta)
    val fs = new org.apache.hadoop.fs.Path(meta.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(loc: java.net.URI): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(loc)).count { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    val before = dataFiles(meta.location)
    val tmp = table + "__compact"
    spark.sql(s"DROP TABLE IF EXISTS ${quoted(spark, tmp)}")
    dropOrphanDir(spark, tmp)
    val scanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(scanKey)
    spark.conf.set(scanKey, "false")
    try save(transform(spark.table(table)), tmp, "overwrite", Some(spec))
    finally spark.conf.set(scanKey, prev)
    setProperties(spark, tmp, properties(spark, table))
    spark.sql(s"DROP TABLE ${quoted(spark, table)}")
    spark.sql(s"ALTER TABLE ${quoted(spark, tmp)} RENAME TO ${quoted(spark, table)}")
    (before, dataFiles(metadata(spark, table).location))
  }

  /** Compaction of a bucketed table, [[rewrite]] with no transform: at
    * most one file per bucket, where every index append adds a file-set. A
    * path-level rewrite ([[graft.operators.ScaleJoins.compactParquet]])
    * would lose the bucket spec the probes' zero-shuffle reads need.
    */
  def compact(spark: SparkSession, table: String): (Int, Int) =
    rewrite(spark, table)(identity)

  /** The catalog bucket spec of `table`, if it is bucketed. */
  def bucketSpec(spark: SparkSession, table: String): Option[BucketSpec] =
    metadata(spark, table).bucketSpec

  /** The `graft.*` properties of `table`, keys without the prefix. */
  def properties(spark: SparkSession, table: String): Map[String, String] =
    metadata(spark, table).properties.collect {
      case (k, v) if k.startsWith(Prefix) => k.stripPrefix(Prefix) -> v
    }

  /** The integer `graft.<key>` property of `table`; fails if absent. */
  def intProperty(spark: SparkSession, table: String, key: String): Int =
    properties(spark, table).getOrElse(key, throw new IllegalArgumentException(
      s"$table carries no $Prefix$key property — not built by graft")).toInt

  /** Sets each `key -> value` as the `graft.<key>` property of `table`. */
  def setProperties(spark: SparkSession, table: String,
      props: Map[String, String]): Unit =
    if (props.nonEmpty) {
      require(props.forall { case (k, v) => !(k + v).exists("'\\".contains(_)) },
        s"property keys and values may not contain quotes or backslashes: $props")
      val kvs = props.map { case (k, v) => s"'$Prefix$k'='$v'" }.mkString(", ")
      spark.sql(s"ALTER TABLE ${quoted(spark, table)} SET TBLPROPERTIES($kvs)")
    }

  /** Removes the warehouse dir a previous JVM (crashed, or a fresh
    * in-memory catalog over the same warehouse) left for `table` with no
    * catalog entry, on which `saveAsTable` fails with
    * LOCATION_ALREADY_EXISTS. Deliberately NARROW: only an unqualified name
    * on a `file:` warehouse, and only a plain directory directly under the
    * warehouse root. With a persistent metastore "not in this catalog"
    * does not imply orphaned, a `db.tbl` name maps to another path, and
    * hdfs/s3 are out of java.io's reach; all three fall through to
    * `saveAsTable`'s own handling.
    */
  private[graft] def dropOrphanDir(spark: SparkSession, table: String): Unit = {
    val whUri = spark.conf.get("spark.sql.warehouse.dir")
    val isLocalFs = !whUri.contains("://") || whUri.startsWith("file:")
    if (!table.contains(".") && isLocalFs && !spark.catalog.tableExists(table)) {
      val wh = whUri.stripPrefix("file:")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      val loc = new java.io.File(wh, table.toLowerCase(java.util.Locale.ROOT))
      if (loc.isDirectory && loc.getParentFile.getCanonicalPath ==
          new java.io.File(wh).getCanonicalPath) rm(loc)
    }
  }
}
