package graft.sources

import java.util

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 SINK — the write-side twin of [[SalesTableProvider]],
  * covering the reference's producer semantics (A8/A9) through the
  * connector API a real Kafka/Delta sink plugs in through:
  *
  *  - **two-phase commit**: each task's `DataWriter` buffers its rows and
  *    only surfaces them in its `commit()` message; the driver-side
  *    `BatchWrite.commit` makes the result visible atomically. A failed
  *    job calls `abort()` and NOTHING becomes visible — the `acks=all` /
  *    transactional-producer delivery contract of the reference's
  *    producer config (golang/chapter_4/sales/sales_producer_client.go:22-31,
  *    `RequiredAcks`/retry setup).
  *  - **exactly-once per partition**: Spark's output commit coordinator
  *    admits ONE task commit per partition (speculative/retried attempts
  *    abort); the registry additionally keys by partitionId so a replayed
  *    commit message overwrites rather than duplicates — idempotent commit,
  *    the DSv2 analog of the reference consumer's offset-dedup
  *    at-least-once handling (pipelining/concurrent_record_processor.go).
  *  - **delivery observability**: commit records per-partition row counts
  *    and (for streams) per-epoch totals — the delivery-report callback
  *    loop of A9 (sales_producer_client.go:43-55 reads produce results
  *    from the Events() channel).
  *
  * Rows are captured into an in-process registry keyed by the `name`
  * option (the "topic"): this sandbox has no broker, and the point is the
  * COMMIT PROTOCOL surface — on a real cluster the same Write plumbing
  * targets a transactional store. Capture is bounded by `maxRows` per task
  * (default 10k; counts stay exact beyond it), so driver memory is bounded
  * no matter the input size.
  */
class LogSinkProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-sink"
  // Write-only table: the schema comes from the incoming query
  // (ACCEPT_ANY_SCHEMA), never from inference.
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LogSinkTable()
}

object LogSink {
  /** One committed sink state: rows surfaced by COMMITTED tasks only.
    * `rowsByPartition` is the most recent commit's per-partition count
    * breakdown — the delivery report of the latest produce (A9); totals
    * accumulate across appends. */
  final case class Committed(
      rows: Vector[Seq[Any]],
      totalRows: Long,
      rowsByPartition: Map[Int, Long],
      epochRows: Map[Long, Long],
      aborts: Long)
  private[sources] val registry = TrieMap[String, Committed]()

  def get(name: String): Option[Committed] = registry.get(name)
  def clear(name: String): Unit = { registry.remove(name); failOnceAt.remove(name); () }

  /** One-shot failure injection for the restart spec: the FIRST streaming
    * epoch ≥ `epoch` fails its driver-side commit (after the batch ran,
    * BEFORE anything becomes visible — the crash window the reference's
    * commit-after-process loop must survive,
    * golang/chapter_4/pipelining/pipelining_consumer_client.go:98-108),
    * then disarms so the checkpoint-recovered retry of the SAME epoch
    * succeeds. */
  private[sources] val failOnceAt = TrieMap[String, Long]()
  def armCommitFailure(name: String, epoch: Long): Unit = failOnceAt(name) = epoch

  private[sources] def empty =
    Committed(Vector.empty, 0L, Map.empty, Map.empty, 0L)
}

class LogSinkTable extends Table with SupportsWrite {
  override def name(): String = "graft_sink"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA, TableCapability.TRUNCATE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new LogSinkWriteBuilder(info)
}

class LogSinkWriteBuilder(info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  // overwrite mode: start the named sink from empty at commit time
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new LogSinkWrite(
    info.options.getOrDefault("name", info.queryId()),
    info.schema(),
    info.options.getLong("maxRows", 10000L),
    info.options.getBoolean("failCommits", false),
    doTruncate)
}

/** Task commit message: the partition's buffered rows + exact count. */
case class LogSinkCommit(partitionId: Int, rowCount: Long,
    rows: Vector[Seq[Any]]) extends WriterCommitMessage

class LogSinkWrite(name: String, schema: StructType, maxRows: Long,
    failCommits: Boolean, truncate: Boolean) extends Write {

  // Idempotency scope is THIS Write (= one job / one epoch attempt): a
  // replayed driver commit re-folds from the snapshot taken at the first
  // commit instead of appending again. A different job appending to the
  // same name is NOT a replay — it folds onto the accumulated state.
  private var preCommitSnapshot: Option[LogSink.Committed] = None

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new LogSinkWriterFactory(schema, maxRows, failCommits)
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      LogSink.registry.synchronized {
        val base = preCommitSnapshot.getOrElse {
          val b = if (truncate) LogSink.empty
            else LogSink.registry.getOrElse(name, LogSink.empty)
          preCommitSnapshot = Some(b)
          b
        }
        LogSink.registry(name) = fold(base, messages, epoch = None)
      }
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      LogSink.registry.synchronized {
        val base = LogSink.registry.getOrElse(name, LogSink.empty)
        LogSink.registry(name) = base.copy(aborts = base.aborts + 1)
      }
  }

  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(
        info: PhysicalWriteInfo): StreamingDataWriterFactory =
      new LogSinkWriterFactory(schema, maxRows, failCommits)
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      LogSink.registry.synchronized {
        // armed crash window (see LogSink.armCommitFailure): fail BEFORE
        // anything becomes visible, exactly once
        LogSink.failOnceAt.get(name).filter(epochId >= _).foreach { _ =>
          LogSink.failOnceAt.remove(name)
          throw new RuntimeException(
            s"graft-sink: injected commit failure at epoch $epochId")
        }
        // epoch replay after recovery: an epoch already in epochRows was
        // delivered — re-committing it is a no-op (exactly-once per epoch)
        val base = LogSink.registry.getOrElse(name, LogSink.empty)
        if (!base.epochRows.contains(epochId))
          LogSink.registry(name) = fold(base, messages, epoch = Some(epochId))
      }
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      LogSink.registry.synchronized {
        val base = LogSink.registry.getOrElse(name, LogSink.empty)
        LogSink.registry(name) = base.copy(aborts = base.aborts + 1)
      }
  }

  /** Merge task commits onto `base`: rows append in partition order,
    * totals accumulate, the per-partition breakdown reflects this commit. */
  private def fold(base: LogSink.Committed,
      messages: Array[WriterCommitMessage],
      epoch: Option[Long]): LogSink.Committed = {
    val commits = messages.collect { case m: LogSinkCommit => m }
    val total = commits.map(_.rowCount).sum
    LogSink.Committed(
      rows = base.rows ++ commits.toVector.sortBy(_.partitionId).flatMap(_.rows),
      totalRows = base.totalRows + total,
      rowsByPartition = commits.map(c => c.partitionId -> c.rowCount).toMap,
      epochRows = epoch.fold(base.epochRows)(e => base.epochRows + (e -> total)),
      aborts = base.aborts)
  }
}

class LogSinkWriterFactory(schema: StructType, maxRows: Long,
    failCommits: Boolean)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new LogSinkWriter(schema, partitionId, maxRows, failCommits)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new LogSinkWriter(schema, partitionId, maxRows, failCommits)
}

/** Executor-side buffering writer. The input InternalRow is reused
  * between `write` calls, and so are the buffers behind its array,
  * struct and map values, so each value is detached when it is buffered:
  * strings become `String`, nested values are copied (which fields need
  * a copy is decided once from the schema), other flat values are
  * immutable already. */
class LogSinkWriter(schema: StructType, partitionId: Int, maxRows: Long,
    failCommits: Boolean) extends DataWriter[InternalRow] {
  private val fields = schema.fields
  private val nested = fields.map(_.dataType match {
    case _: ArrayType | _: StructType | _: MapType => true
    case _ => false
  })
  private val buf = Vector.newBuilder[Seq[Any]]
  private var n = 0L

  override def write(row: InternalRow): Unit = {
    if (n < maxRows) buf += fields.indices.map { i =>
      row.get(i, fields(i).dataType) match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case v if nested(i) => InternalRow.copyValue(v)
        case v => v
      }
    }
    n += 1
  }
  override def commit(): WriterCommitMessage = {
    // failure-injection hook for the abort-path spec: the task-side
    // commit throws, Spark aborts the job, BatchWrite.abort must fire
    // and no rows may become visible
    if (failCommits) throw new RuntimeException("graft-sink: injected commit failure")
    LogSinkCommit(partitionId, n, buf.result())
  }
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
