/* Hosted under org.apache.spark.sql.* for private[sql] access
 * (SessionState.newHadoopConf). */
package org.apache.spark.sql.graftnative

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.OutputFile
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.internal.{SessionState, SQLConf}
import org.apache.spark.sql.types.StructType

/** Writes a few rows as one parquet file on the driver, with no Spark job:
  * Spark's own `ParquetWriteSupport` behind a `ParquetWriter`, configured
  * the way `ParquetFileFormat.prepareWrite` configures a task's writer.
  * The file is what a Spark write of the same rows would hold: the nullable
  * schema, Spark's row metadata and version in the footer, the session's
  * legacy-format, field-id, nanos and variant settings, and the codec of
  * `spark.sql.parquet.compression.codec`. Timestamps are always
  * TIMESTAMP_MICROS (UTC-adjusted INT64), whatever the session's
  * `outputTimestampType`. It reads the session's two confs only, so it
  * builds no session. */
object DriverParquet {

  /** The codec Spark's writer uses for `spark.sql.parquet.compression.codec`. */
  def codec(spark: LazySession): CompressionCodecName =
    CompressionCodecName.fromConf(
      new ParquetOptions(Map.empty[String, String], spark.sqlConf).compressionCodecClassName)

  /** A data file name in Spark's form, `part-<uuid>.c000<codec ext>.parquet`. */
  def fileName(spark: LazySession): String =
    s"part-${java.util.UUID.randomUUID()}.c000${codec(spark).getExtension}.parquet"

  /** Writes `rows` (external rows of `schema`) to a new file at `file`. */
  def write(spark: LazySession, file: Path, schema: StructType, rows: Iterable[Row]): Unit = {
    val sql = spark.sqlConf
    val nullable = schema.asNullable // as Spark writes every file source
    val conf = SessionState.newHadoopConf(spark.hadoopConf, sql) // a session's newHadoopConf()
    ParquetWriteSupport.setSchema(nullable, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, sql.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, sql.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sql.legacyParquetNanosAsLong.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sql.parquetAnnotateVariantLogicalType.toString)
    val toInternal = CatalystTypeConverters.createToCatalystConverter(nullable)
    val w = new Builder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf)
      .withCompressionCodec(codec(spark))
      .build()
    try rows.foreach(r => w.write(toInternal(r).asInstanceOf[InternalRow]))
    finally w.close()
  }

  private final class Builder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}
