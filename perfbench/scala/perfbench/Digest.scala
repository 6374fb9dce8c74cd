package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Order-insensitive result digest.
  *
  * A row is rendered with its top-level columns sorted by name, floats
  * rounded to 4 decimal places, nulls as a marker, and strings
  * length-prefixed so no two distinct rows render alike. Each rendered
  * row is hashed with SHA-256, and the digest is the pair of 64-bit sums
  * of the hash prefixes: row order does not matter, duplicates do. */
object Digest {
  final case class Acc(rows: Long, a: Long, b: Long) {
    def +(o: Acc): Acc = Acc(rows + o.rows, a + o.a, b + o.b)
    def hex: String = f"$a%016x$b%016x"
  }
  val Empty: Acc = Acc(0L, 0L, 0L)

  private def round4(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else JBigDecimal.valueOf(d).setScale(4, RoundingMode.HALF_EVEN).toPlainString

  def canon(v: Any): String = v match {
    case null                       => "∅"
    case d: Double                  => round4(d)
    case f: Float                   => round4(f.toDouble)
    case s: String                  => s"${s.length}'$s"
    case b: Array[Byte]             => b.map(x => f"$x%02x").mkString("x", "", "")
    case t: java.sql.Timestamp      => t.toInstant.toString
    case d: java.sql.Date           => d.toLocalDate.toString
    case r: Row                     => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: JBigDecimal             => d.toPlainString
    case d: scala.math.BigDecimal   => d.bigDecimal.toPlainString
    case x                          => x.toString
  }

  /** Column positions in name order (stable for duplicate names). */
  def nameOrder(names: Seq[String]): Array[Int] =
    names.zipWithIndex.sortBy(_._1).map(_._2).toArray

  def render(order: Array[Int], row: Row): String =
    order.map(i => canon(row.get(i))).mkString("|")

  final class Hasher {
    private val md = MessageDigest.getInstance("SHA-256")
    private var acc = Empty
    def add(rendered: String): Unit = {
      val h = md.digest(rendered.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      acc = acc + Acc(1L, java.nio.ByteBuffer.wrap(h, 0, 8).getLong,
        java.nio.ByteBuffer.wrap(h, 8, 8).getLong)
    }
    def result: Acc = acc
  }

  /** Digest of external rows with the given column names. */
  def of(names: Seq[String], rows: Iterable[Row]): Acc = {
    val order = nameOrder(names)
    val h = new Hasher
    rows.foreach(r => h.add(render(order, r)))
    h.result
  }
}

/** A batch sink that consumes every row like Spark's `noop` sink and folds
  * it into a [[Digest]]. Writing a DataFrame here runs its complete
  * physical plan; the result is collected with [[DigestSink.take]] under
  * the `id` option the write was given. */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = DigestSink.SinkTable
}

object DigestSink {
  private val results = new ConcurrentHashMap[String, Digest.Acc]()

  /** Removes and returns the digest committed under `id`. */
  def take(id: String): Option[Digest.Acc] = Option(results.remove(id))

  final case class Message(acc: Digest.Acc) extends WriterCommitMessage

  object SinkTable extends Table with SupportsWrite {
    override def name(): String = "perfbench-digest"
    override def schema(): StructType = new StructType()
    override def capabilities(): java.util.Set[TableCapability] = java.util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      val id = info.options().get("id")
      require(id != null, "digest sink needs an id option")
      new Builder(id, info.schema())
    }
  }

  final class Builder(id: String, schema: StructType) extends WriteBuilder with SupportsTruncate {
    override def truncate(): WriteBuilder = this
    override def build(): Write = new Write {
      override def toBatch: BatchWrite = new BatchWrite {
        override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
          new Factory(schema)
        override def commit(messages: Array[WriterCommitMessage]): Unit =
          results.put(id, messages.collect { case Message(a) => a }.foldLeft(Digest.Empty)(_ + _))
        override def abort(messages: Array[WriterCommitMessage]): Unit = ()
      }
    }
  }

  final class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        private val order = Digest.nameOrder(schema.fieldNames.toSeq)
        private val h = new Digest.Hasher
        override def write(r: InternalRow): Unit = h.add(Digest.render(order, toRow(r).asInstanceOf[Row]))
        override def commit(): WriterCommitMessage = Message(h.result)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
