package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Seekable lookup join (reference BeamSideInputLookupJoinRel.java:61 +
  * BeamSqlSeekableTable.java): join a main input against a table that
  * supports keyed point lookups, without scanning the table.
  *
  * Spark-native translation: the seekable table is a BUCKETED parquet
  * table (Scale.writeBucketed); "seek(key)" computes each probed key's
  * bucket with Spark's own bucket hash (Murmur3, seed 42, pmod buckets —
  * the same function the writer used to route rows) and reads ONLY those
  * bucket files, then row-group min/max stats inside the sorted buckets
  * prune further under the pushed-down IN filter. A 16-bucket seek of 3
  * keys touches at most 3 of 16 files whatever the planner's bucketing
  * mood — at 100 TB that is the difference between a point lookup and a
  * full scan.
  *
  * The probe key set is collected to the driver, mirroring the
  * reference's contract that the lookup side is seeked row-by-row from a
  * bounded main input (`maxProbeKeys` guards the bound; beyond it a
  * shuffled join is the right plan anyway — use plain `join`).
  */
object Lookup {

  // Spark bucket files end in `..._<bucketId>[.ext]` (part-00000-<uuid>_00003.c000...)
  private val BucketedFileName = """.*_(\d+)(?:\..*)?$""".r

  private[graft] def bucketIdOf(path: String): Option[Int] = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    name match {
      case BucketedFileName(id) => Some(id.toInt)
      case _ => None
    }
  }

  /** The bucket Spark's writer routed `key` to: pmod(murmur3(key), n). */
  private[graft] def bucketFor(key: Any, dt: DataType, numBuckets: Int): Int = {
    val h = Murmur3Hash(Seq(Literal.create(key, dt)), 42)
      .eval(InternalRow.empty).asInstanceOf[Int]
    ((h % numBuckets) + numBuckets) % numBuckets
  }

  /** The table's bucket spec: (bucket count, its one bucket column). */
  private def bucketSpecOf(spark: SparkSession, table: String): (Int, String) = {
    val spec = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).bucketSpec
    require(spec.exists(_.bucketColumnNames.length == 1), s"table $table is not " +
      "bucketed on one column; a seek needs a bucketed table (Scale.writeBucketed)")
    (spec.get.numBuckets, spec.get.bucketColumnNames.head)
  }

  /** Point lookup: the rows of bucketed table `table` whose bucket column
    * is one of `keys`, reading only the bucket files those keys hash into
    * (row-group stats inside the sorted buckets prune further under the
    * pushed-down IN filter). The key set is the caller's, already on the
    * driver — nothing is evaluated to find it. */
  def seek(spark: SparkSession, table: String, keys: Seq[Any]): DataFrame = {
    val (n, key) = bucketSpecOf(spark, table)
    val full = spark.table(table)
    val dt = full.schema(key).dataType
    val probedBuckets = keys.map(k => bucketFor(k, dt, n)).toSet
    val files = full.inputFiles.filter(f => bucketIdOf(f).exists(probedBuckets))
    if (files.isEmpty) full.filter(lit(false)) // no probed bucket has data
    else spark.read.schema(full.schema).parquet(files.toIndexedSeq: _*)
      .filter(col(key).isin(keys: _*))
  }

  /** Join `probe` against bucketed table `table` by point lookup ([[seek]]
    * of the probe side's distinct keys): only the bucket files the probed
    * keys hash into are read. `tableKey` must be the table's bucket
    * column. Inner by default; "left_outer" keeps unmatched probe rows. */
  def lookupJoin(spark: SparkSession, probe: DataFrame, table: String,
      probeKey: String, tableKey: String, joinType: String = "inner",
      maxProbeKeys: Int = 100000): DataFrame = {
    val keys = probe.select(col(probeKey)).distinct()
      .limit(maxProbeKeys + 1).collect().map(_.get(0))
    require(keys.length <= maxProbeKeys,
      s"lookupJoin probe side exceeds $maxProbeKeys distinct keys; " +
        "use a plain join (shuffle or broadcast) instead")
    val bucketCol = bucketSpecOf(spark, table)._2
    require(bucketCol.equalsIgnoreCase(tableKey), s"lookupJoin key $tableKey is not the bucket " +
      s"column $bucketCol of $table; only the bucket column can be seeked")
    val seeked = seek(spark, table, keys.toSeq)
    probe.join(seeked, probe(probeKey) === seeked(tableKey), joinType)
  }
}
