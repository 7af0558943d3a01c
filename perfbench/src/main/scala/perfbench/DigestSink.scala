package perfbench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A `noop`-like sink that also fingerprints what it is handed:
  * `df.write.format(classOf[DigestSink].getName).option("key", k)
  * .mode("overwrite").save()` computes every column like the `noop`
  * format does, and records under `k` the row count and an
  * order-insensitive digest (the wrapping sum of a 64-bit hash per row).
  *
  * A row hashes a canonical text of its values, columns in name order:
  * integers and integral decimals as one integer form, floats by the bits
  * of their double value, timestamps as epoch microseconds. Two results
  * with equal values therefore digest alike whatever engine wrote them,
  * which is what lets a Spark result be checked against a DuckDB oracle
  * read back from parquet. */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = DigestSink.Tbl
}

object DigestSink {
  final case class Digest(rows: Long, hash: Long, columns: Seq[String])

  private val results = new util.concurrent.ConcurrentHashMap[String, Digest]
  def take(key: String): Option[Digest] = Option(results.remove(key))

  private object Tbl extends Table with SupportsWrite {
    override def name(): String = "digest"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite =
            new Batch(info.options.get("key"), info.schema)
        }
      }
  }

  private final case class Part(rows: Long, hash: Long)
      extends WriterCommitMessage

  private final class Batch(key: String, schema: StructType)
      extends BatchWrite {
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory = new Factory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Part => p }
      results.put(key, Digest(parts.map(_.rows).sum, parts.map(_.hash).sum,
        schema.fieldNames.toSeq.sorted))
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private final class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int,
        taskId: Long): DataWriter[InternalRow] = new Writer(schema)
  }

  private final class Writer(schema: StructType)
      extends DataWriter[InternalRow] {
    private val order = schema.fields.zipWithIndex.sortBy(_._1.name)
    private val sb = new java.lang.StringBuilder
    private var rows = 0L
    private var hash = 0L
    override def write(row: InternalRow): Unit = {
      sb.setLength(0)
      order.foreach { case (f, i) => canon(row, i, f.dataType, sb) }
      hash += hash64(sb)
      rows += 1
    }
    override def commit(): WriterCommitMessage = Part(rows, hash)
    override def abort(): Unit = ()
    override def close(): Unit = ()
  }

  private def hash64(s: CharSequence): Long = {
    import scala.util.hashing.MurmurHash3.{stringHash => h}
    val str = s.toString
    (h(str, 0x3c6ef372).toLong << 32) | (h(str, 0x1b873593).toLong & 0xffffffffL)
  }

  private def canon(g: SpecializedGetters, i: Int, t: DataType,
      sb: java.lang.StringBuilder): Unit = {
    sb.append('\u001f')
    if (g.isNullAt(i)) { sb.append('N'); return }
    t match {
      case BooleanType => sb.append(if (g.getBoolean(i)) "B1" else "B0")
      case ByteType => sb.append('I').append(g.getByte(i).toLong)
      case ShortType => sb.append('I').append(g.getShort(i).toLong)
      case IntegerType => sb.append('I').append(g.getInt(i).toLong)
      case LongType => sb.append('I').append(g.getLong(i))
      case FloatType => float(g.getFloat(i).toDouble, sb)
      case DoubleType => float(g.getDouble(i), sb)
      case d: DecimalType =>
        val bd = g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
          .stripTrailingZeros
        if (bd.scale <= 0) sb.append('I').append(bd.toBigIntegerExact)
        else sb.append('D').append(bd.toPlainString)
      case _: StringType => sb.append('S').append(g.getUTF8String(i))
      case BinaryType =>
        sb.append('X'); g.getBinary(i).foreach(b => sb.append(f"$b%02x"))
      case DateType => sb.append('d').append(g.getInt(i).toLong)
      case TimestampType | TimestampNTZType =>
        sb.append('T').append(g.getLong(i))
      case a: ArrayType =>
        val arr = g.getArray(i)
        sb.append('[')
        (0 until arr.numElements()).foreach(j =>
          canon(arr, j, a.elementType, sb))
        sb.append(']')
      case s: StructType =>
        val r = g.getStruct(i, s.size)
        sb.append('{')
        s.fields.zipWithIndex.sortBy(_._1.name).foreach { case (f, j) =>
          canon(r, j, f.dataType, sb)
        }
        sb.append('}')
      case other => sb.append('?').append(g.get(i, other))
    }
  }

  private def float(v: Double, sb: java.lang.StringBuilder): Unit =
    sb.append('F').append(java.lang.Long.toHexString(
      java.lang.Double.doubleToLongBits(v)))
}
