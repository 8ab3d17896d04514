package graftbench

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Consumes a query the way the `noop` format does (one DataSource V2
  * write of the whole plan, rows discarded) and returns an
  * order-independent fingerprint of its rows: the row count and the sum
  * of the rows' 32-bit hashes over their binary (UnsafeRow) form. Two
  * executions of one query in one JVM agree exactly when they return the
  * same multiset of rows. */
object Fingerprint {
  @volatile private var last: String = null
  @volatile private var kept: Seq[UnsafeRow] = Nil

  def of(df: DataFrame): String = {
    last = null
    df.write.format(classOf[FingerprintSource].getName).mode("overwrite").save()
    last
  }

  /** The fingerprint and, from the same execution, the rows themselves,
    * as a DataFrame over the driver's copy (for small results). */
  def withRows(df: DataFrame): (String, DataFrame) = {
    last = null
    df.write.format(classOf[FingerprintSource].getName).option("keep", "true")
      .mode("overwrite").save()
    val toRow = ExpressionEncoder(RowEncoder.encoderFor(df.schema)).resolveAndBind()
      .createDeserializer()
    val rows: Seq[Row] = kept.map(toRow)
    kept = Nil
    last -> df.sparkSession.createDataFrame(rows.asJava, df.schema)
  }

  private[graftbench] def committed(parts: Seq[FingerprintPart]): Unit = {
    kept = parts.flatMap(_.rows)
    last = s"${parts.map(_.count).sum}:${parts.map(_.hashSum).sum}"
  }
}

final case class FingerprintPart(count: Long, hashSum: Long, rows: Seq[UnsafeRow])
  extends WriterCommitMessage

final class FingerprintSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FingerprintTable(properties.getOrDefault("keep", "false").toBoolean)
}

final class FingerprintTable(keep: Boolean) extends Table with SupportsWrite {
  override def name(): String = "graftbench-fingerprint"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val rowSchema = info.schema()
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new FingerprintWrite(rowSchema, keep)
      }
    }
  }
}

final class FingerprintWrite(rowSchema: StructType, keep: Boolean) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FingerprintWriterFactory(rowSchema, keep)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    Fingerprint.committed(messages.toSeq.collect { case p: FingerprintPart => p })

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final class FingerprintWriterFactory(rowSchema: StructType, keep: Boolean)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val toUnsafe = UnsafeProjection.create(rowSchema)
      private var count = 0L
      private var hashSum = 0L
      private val rows = Vector.newBuilder[UnsafeRow]
      override def write(row: InternalRow): Unit = {
        val u = toUnsafe(row)
        count += 1
        hashSum += u.hashCode() & 0xffffffffL
        if (keep) rows += u.copy()
      }
      override def commit(): WriterCommitMessage = FingerprintPart(count, hashSum, rows.result())
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
