package graft.streaming

import java.util
import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 micro-batch source with the reference consumer's
  * delivery semantics (SURVEY.md §3.1 "Spark shape"):
  *
  *  - offset = position in the stream log (the `last-delivered-id`
  *    cursor, reference `common.py` group state);
  *  - admission control = `ReadLimit.maxRows(batchSize)` — the C1/C3
  *    count-quota: each micro-batch delivers at most `batchSize`
  *    messages (`consumer.py:96,146-153`);
  *  - epoch commit = the ack boundary: `commit(end)` acknowledges
  *    everything up to the committed offset (C7).
  *
  * Usage:
  * {{{
  *   val key = StreamLogRegistry.register(log)
  *   spark.readStream
  *     .format("graft.streaming.StreamLogSourceProvider")
  *     .option("log", key).option("batchSize", "3")
  *     .load()
  * }}}
  *
  * The driver-side registry stands in for a connection string — in a
  * production source the per-partition readers would each open their
  * own connection; here partitions carry their message slice, like
  * Spark's own MemoryStream.
  */
object StreamLogRegistry {
  private val logs = mutable.Map.empty[String, StreamLog]
  private val committed = mutable.Map.empty[String, String]
  private val sinkEpochs = mutable.Map.empty[(String, String), Long]
  private var nextId = 0

  def register(log: StreamLog): String = synchronized {
    nextId += 1
    val key = s"log-$nextId"
    logs(key) = log
    committed(key) = MsgId.Zero
    key
  }
  def get(key: String): StreamLog = synchronized(logs(key))
  def markCommitted(key: String, upTo: String): Unit = synchronized { committed(key) = upTo }
  def committedId(key: String): String = synchronized(committed.getOrElse(key, MsgId.Zero))

  /** Release a registered log (stops pinning its message buffer). */
  def unregister(key: String): Unit = synchronized {
    logs.remove(key); committed.remove(key)
    sinkEpochs.keys.filter(_._1 == key).toList.foreach(sinkEpochs.remove)
    ()
  }

  /** Sink epoch dedup: returns true exactly once per (key, writer
    * query, epoch) — Spark may re-run a commit after driver recovery.
    * Keyed by the writing query's id so independent queries (each with
    * its own epoch counter) can append to the same log. */
  def beginSinkEpoch(key: String, queryId: String, epochId: Long): Boolean = synchronized {
    if (sinkEpochs.getOrElse((key, queryId), -1L) >= epochId) false
    else { sinkEpochs((key, queryId)) = epochId; true }
  }
}

class StreamLogSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StreamLogTable.Schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new StreamLogTable(opts.get("log"), opts.getInt("batchSize", 2))
  }
}

object StreamLogTable {
  /** STRUCT<msgid STRING, content MAP<STRING,STRING>> — SURVEY §1.1. */
  val Schema: StructType = StructType(Seq(
    StructField("msgid", StringType, nullable = false),
    StructField("content", MapType(StringType, StringType), nullable = false)))
}

class StreamLogTable(logKey: String, batchSize: Int)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-stream($logKey)"
  override def schema(): StructType = StreamLogTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = StreamLogTable.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new StreamLogMicroBatchStream(logKey, batchSize)
      }
    }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // Reject non-canonical input at PLAN time: the writer reads columns
    // positionally (row.getMap(1)), so a reordered/retyped frame would
    // otherwise fail (or silently mis-read) executor-side mid-epoch.
    val s = info.schema()
    val ok = s.length == 2 &&
      s(0).name == "msgid" && s(0).dataType == StringType &&
      s(1).name == "content" && (s(1).dataType match {
        case MapType(StringType, StringType, _) => true
        case _ => false
      })
    require(ok, "stream-log sink expects (msgid STRING, content MAP<STRING,STRING>), " +
      s"got ${s.map(f => s"${f.name} ${f.dataType.simpleString}").mkString("(", ", ", ")")}")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite =
          new StreamLogStreamingWrite(logKey, info.queryId())
      }
    }
  }
}

/** Offset = last-delivered stream id — the group cursor itself. Stable
  * under MAXLEN trims and XDEL (a position-based offset would re-base
  * when the buffer shrinks, re-delivering or skipping messages). */
case class LogOffset(lastId: String) extends Offset {
  override def json(): String = lastId
}

class StreamLogMicroBatchStream(logKey: String, batchSize: Int)
    extends MicroBatchStream with SupportsAdmissionControl {

  private def log = StreamLogRegistry.get(logKey)

  /** Messages captured at offset-resolution time, keyed by the batch's
    * (start, end] id range. A MAXLEN trim between latestOffset and
    * planInputPartitions would otherwise silently drop messages the
    * offset range already promised. An entry whose batch never runs is
    * dropped once a commit passes its end, and all of them on stop. */
  private val planned = mutable.Map.empty[(String, String), Array[StreamMessage]]

  private[streaming] def plannedSize: Int = planned.synchronized(planned.size)

  override def initialOffset(): Offset = LogOffset(MsgId.Zero)

  /** C1/C3 admission: deliver at most `batchSize` per trigger. */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchSize)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[LogOffset].lastId
    val cap = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        math.min(r.maxRows(), Int.MaxValue.toLong).toInt
      case _ => Int.MaxValue
    }
    val msgs = log.after(from, cap)
    if (msgs.isEmpty) LogOffset(from)
    else {
      val end = msgs.last.msgid
      planned.synchronized { planned((from, end)) = msgs.toArray }
      LogOffset(end)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def deserializeOffset(json: String): Offset = LogOffset(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[LogOffset].lastId
    val until = end.asInstanceOf[LogOffset].lastId
    // Fallback re-read covers checkpoint recovery, where latestOffset
    // for this range ran in a previous process; `from` itself was
    // delivered by the batch before, and can only lead the range.
    val slice = planned.synchronized(planned.remove((from, until))).getOrElse(
      log.range(from, until).dropWhile(_.msgid == from).toArray)
    if (slice.isEmpty) Array.empty
    else Array(StreamLogInputPartition(slice))
  }

  override def createReaderFactory(): PartitionReaderFactory = StreamLogReaderFactory

  /** C7: epoch commit = ack boundary. */
  override def commit(end: Offset): Unit = {
    val upTo = end.asInstanceOf[LogOffset].lastId
    StreamLogRegistry.markCommitted(logKey, upTo)
    planned.synchronized(planned.filterInPlace { case ((_, e), _) => StreamId(e) > StreamId(upTo) })
  }

  override def stop(): Unit = planned.synchronized(planned.clear())
}

case class StreamLogInputPartition(messages: Array[StreamMessage]) extends InputPartition

/** P1 XADD as a streaming sink: executors buffer each partition's rows
  * into the commit message; the driver-side `commit(epoch)` appends them
  * to the log in (partition, row) order — the single-writer append that
  * XADD performs at the Redis server, giving atomic per-epoch publishes
  * (exactly-once per epoch; ids assigned by the log on append, so the
  * written msgid column is ignored like XADD's auto-id `*`). */
class StreamLogStreamingWrite(logKey: String, queryId: String) extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    StreamLogWriterFactory

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // Epoch replay after driver recovery must not duplicate appends;
    // keyed per writing query so multiple producers can share one log.
    if (!StreamLogRegistry.beginSinkEpoch(logKey, queryId, epochId)) return
    val log = StreamLogRegistry.get(logKey)
    messages.foreach {
      case StreamLogCommit(rows) =>
        rows.foreach(content => log.add(content.toMap))
      case _ => ()
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

case class StreamLogCommit(rows: Array[Array[(String, String)]]) extends WriterCommitMessage

object StreamLogWriterFactory extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val buf = scala.collection.mutable.ArrayBuffer.empty[Array[(String, String)]]
      override def write(row: InternalRow): Unit = {
        val m = row.getMap(1)
        val ks = m.keyArray(); val vs = m.valueArray()
        buf += Array.tabulate(m.numElements()) { i =>
          val k = ks.getUTF8String(i).toString
          // MapType is valueContainsNull by default — Redis stringifies
          // every field value, so a null here is caller error: fail
          // with the key instead of an anonymous executor NPE.
          require(!vs.isNullAt(i), s"stream-log sink: null content value for key '$k'")
          k -> vs.getUTF8String(i).toString
        }
      }
      override def commit(): WriterCommitMessage = StreamLogCommit(buf.toArray)
      override def abort(): Unit = buf.clear()
      override def close(): Unit = ()
    }
}

object StreamLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val msgs = partition.asInstanceOf[StreamLogInputPartition].messages
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < msgs.length }
      override def get(): InternalRow = {
        val m = msgs(i)
        val keys = m.content.keys.toArray.map(k => UTF8String.fromString(k): Any)
        val vals = m.content.values.toArray.map(v => UTF8String.fromString(v): Any)
        InternalRow(
          UTF8String.fromString(m.msgid),
          ArrayBasedMapData(keys, vals))
      }
      override def close(): Unit = ()
    }
  }
}
