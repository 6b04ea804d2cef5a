package graft.streaming

import java.util
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom DataSourceV2 streaming source with MQTT-subscriber semantics —
  * the one genuinely novel infrastructure piece the reference needs
  * (SURVEY §2.1 S1: paho-mqtt callback → bounded queue,
  * `/root/reference/src/classes/mqtt_classes.py:298-324`; there is no
  * maintained Spark MQTT connector).
  *
  * Architecture: a broker connection pushes `(topic, payload, arrival)`
  * into an append-only in-memory log; the `MicroBatchStream` exposes the
  * log length as the offset, so each micro-batch reads a contiguous slice
  * — exactly how a production MQTT wrapper buffers a push-based client
  * into Spark's pull-based offsets. [[MqttSimBroker]] is that local log;
  * what feeds it is the pluggable [[MqttClient]] seam (connect/auth/TLS +
  * the reference's 7 lifecycle callbacks, bridged by [[IngestBridge]]) —
  * swapping in a real network client implements one trait, nothing in the
  * Spark contract changes.
  *
  * Each batch is a single input partition: one MQTT subscription is a
  * serial stream (broker delivery order is the reference's ordering
  * semantics, §2.9 T4), and the downstream decode/explode parallelizes
  * after the gate. Restart-safety comes from offsets in the checkpoint —
  * `deserializeOffset` + `planInputPartitions(start, end)` replay the
  * uncommitted slice.
  */
object MqttSimBroker {
  final case class Msg(topic: String, payload: Array[Byte], arrivalMicros: Long)

  private val logs = new ConcurrentHashMap[String, java.util.ArrayList[Msg]]()

  private def log(broker: String): java.util.ArrayList[Msg] =
    logs.computeIfAbsent(broker, _ => new java.util.ArrayList[Msg]())

  def publish(broker: String, topic: String, payload: Array[Byte], arrivalMicros: Long): Unit =
    log(broker).synchronized { log(broker).add(Msg(topic, payload, arrivalMicros)) }

  def size(broker: String): Long = log(broker).synchronized { log(broker).size().toLong }

  def slice(broker: String, from: Long, until: Long): Seq[Msg] =
    log(broker).synchronized {
      (from until until).map(i => log(broker).get(i.toInt))
    }

  def clear(broker: String): Unit = log(broker).synchronized { log(broker).clear() }
}

class MqttSimSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "mqtt-sim"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = MqttSimTable.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MqttSimTable(Option(properties.get("broker")).getOrElse("default"))
}

object MqttSimTable {
  val schema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("payload", BinaryType),
    StructField("arrival", TimestampType)))
}

class MqttSimTable(broker: String) extends Table with SupportsRead {
  override def name(): String = s"mqtt-sim://$broker"
  override def schema(): StructType = MqttSimTable.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val maxPerTrigger = Option(options.get("maxPerTrigger")).map(_.toLong)
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = MqttSimTable.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new MqttSimStream(broker, maxPerTrigger)
      }
    }
  }
}

/** Offset = number of messages consumed from the append-only log. */
case class IndexOffset(index: Long) extends Offset {
  override def json(): String = index.toString
}

/** @param maxPerTrigger backpressure bound (SURVEY §2.9 T5): the
  *   reference blocks its producer at 150 queued points; here the
  *   admission-control API caps how much of the backlog one micro-batch
  *   admits, so a large backlog drains in bounded batches instead of one
  *   giant catch-up batch. */
class MqttSimStream(broker: String, maxPerTrigger: Option[Long])
    extends MicroBatchStream with SupportsAdmissionControl {
  /** The progress events' source description. */
  override def toString: String = s"MqttSimStream[$broker]"
  override def initialOffset(): Offset = IndexOffset(0L)
  override def latestOffset(): Offset = IndexOffset(MqttSimBroker.size(broker))
  override def deserializeOffset(json: String): Offset = IndexOffset(json.toLong)
  override def commit(end: Offset): Unit = () // log retained; a real client would ack here

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[IndexOffset].index
    val avail = MqttSimBroker.size(broker)
    limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        IndexOffset(math.min(avail, start + r.maxRows()))
      case _ => IndexOffset(avail)
    }
  }

  override def reportLatestOffset(): Offset = IndexOffset(MqttSimBroker.size(broker))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    Array(MqttSimPartition(
      broker,
      start.asInstanceOf[IndexOffset].index,
      end.asInstanceOf[IndexOffset].index))

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[MqttSimPartition]
      new PartitionReader[InternalRow] {
        private val msgs = MqttSimBroker.slice(p.broker, p.from, p.until).iterator
        private var current: MqttSimBroker.Msg = _
        override def next(): Boolean = { val h = msgs.hasNext; if (h) current = msgs.next(); h }
        override def get(): InternalRow =
          InternalRow(UTF8String.fromString(current.topic), current.payload, current.arrivalMicros)
        override def close(): Unit = ()
      }
    }
  }

  override def stop(): Unit = ()
}

case class MqttSimPartition(broker: String, from: Long, until: Long) extends InputPartition
