package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators for scan efficiency at 100 TB — the write-side
  * twin of predicate pushdown: a corpus laid out by an interleaved
  * (Z-order/Morton) key clusters BOTH dimensions into every file, so
  * parquet min/max footer stats prune scans filtered on either one.
  * Spark skips row groups/files from those stats automatically; no
  * reader cooperation needed beyond writing in key order.
  */
object Layout {
  import Portable._

  /** 16-bit Morton interleave of two 8-bit bucket columns (x even bits,
    * y odd bits) — closed-form bit arithmetic, identical in DuckDB.
    */
  def mortonKey(x: Column, y: Column): Column =
    (0 until 8).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  private def mortonKeySql(x: String, y: String): String =
    (0 until 8).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** Z-order key for the documents table over (length bucket, source
    * bucket): zx = n_chars/64 capped at 255 (a range dimension — length
    * predicates prune), zy = 8-bit source hash (a category dimension —
    * source predicates prune). Output: (doc_id, zx, zy, zkey).
    */
  def zorderKeys(docs: DataFrame): DataFrame = {
    val zx = least(expr("n_chars DIV 64"), lit(255L))
    val zy = pmod(h64(concat(lit("zy:"), col("source"))), lit(256L))
    docs.select(col("doc_id"), zx.as("zx"), zy.as("zy"))
      .withColumn("zkey", mortonKey(col("zx"), col("zy")))
  }

  val zorderKeysOracleSql: String = {
    val zx = "least(n_chars // 64, 255)"
    val zy = s"${h64Sql("'zy:' || source")} % 256"
    s"""WITH z AS (
       |  SELECT doc_id, $zx AS zx, $zy AS zy FROM documents)
       |SELECT doc_id, zx, zy, ${mortonKeySql("zx", "zy")} AS zkey
       |FROM z""".stripMargin
  }

  /** Writes `df` parquet clustered by `keyCol`: range-repartition into
    * `nFiles` key-contiguous partitions (sampled range bounds — no
    * global sort), sort within each, write one file per partition. Every
    * file then covers a disjoint key range, so footer min/max stats
    * prune any key-range scan to the files that can match.
    */
  def writeZOrdered(df: DataFrame, path: String, keyCol: String,
                    nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.mode("overwrite").parquet(path)

  /** CATALOG-bucketed write — the storage-side co-location contract:
    * two tables bucketed by the same key into the same bucket count join
    * with ZERO Exchange operators (each bucketed scan already satisfies
    * the join's required hash distribution), so a fact↔dim or
    * profile↔activity join that repeats every pipeline run pays its
    * shuffle ONCE at write time instead of per query. `sortBy` persists
    * per-bucket order so the sort-merge join can skip its sorts when
    * each bucket lands in one file. The catalog records the bucket
    * spec, so Catalyst — not the reader — proves the distribution.
    * LayoutSpec pins the exchange-free plan.
    */
  def writeBucketedTable(df: DataFrame, table: String, path: String,
                         key: String, nBuckets: Int = 16): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
}
