package graft.streaming

import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.QueueMessage
import graft.service.ExtractLoadEngine

/** Streaming job intake (S1) — the reference's queue subscription
  * (`src/service/queue-service.ts:38-61`, topic/subscription in
  * `src/subscriptions.json:2-8`) re-expressed as Structured Streaming:
  * a file-drop directory of request JSONs (one `QueueMessage` per file,
  * the shape in FIXTURES.md §1) is the queue; each micro-batch is
  * dispatched through `ExtractLoadEngine.processRequest` with the
  * reference's bounded concurrency (`maxConcurrentMessages`, default 2,
  * `src/environment/environment.ts:12`).
  *
  * Delivery semantics: the file source + checkpoint give at-least-once —
  * a batch that dies mid-flight is replayed on restart, and a replayed
  * load is idempotent because a load writes only staged files, and one
  * `Warehouse.publish` replaces the dataset's partition of every dataset
  * table with them (see Warehouse). Handler errors never kill the
  * stream: `processRequest` converts them to `success:false` response
  * rows (`queue-service.ts:54-61` likewise catches and logs), and every
  * row of a batch reaches it, a row without a `messageId` included.
  *
  * Scale note: the micro-batch `collect()` pulls only job envelopes
  * (four short strings each — thousands of queued jobs are kilobytes);
  * all data-plane work stays distributed inside `processRequest`.
  */
final class QueueSubscription(
    spark: SparkSession,
    engine: ExtractLoadEngine,
    requestDir: String,
    checkpointDir: String,
    maxConcurrentMessages: Int = 2) {

  /** Serializes micro-batches against `drain()`. Fair, so a drain that
    * arrived first is not starved by back-to-back batches; interruptible
    * on the batch side, so `query.stop()`'s interrupt can release a
    * batch that is still waiting (un-committed → replayed on restart).
    */
  private val batchLock = new java.util.concurrent.locks.ReentrantLock(true)
  @volatile private var active: Option[StreamingQuery] = None

  /** The request stream: one row per dropped JSON file. */
  def requestStream: Dataset[QueueMessage] = {
    implicit val enc = Encoders.product[QueueMessage]
    spark.readStream
      .schema(enc.schema)
      .json(requestDir)
      .as[QueueMessage]
  }

  /** Start the subscription. `Trigger.AvailableNow` drains what's there
    * and stops (the test/drain mode); the default processing-time
    * trigger keeps listening like the reference's live subscription.
    */
  def start(trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val q = requestStream.writeStream
      .queryName("extract-load-requests")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[QueueMessage], _: Long) =>
        batchLock.lockInterruptibly()
        // Envelope-only collect; deterministic order within the batch,
        // rows without a messageId first.
        try processAll(batch.collect().toSeq.sortBy(m => Option(m.messageId)))
        finally batchLock.unlock()
      }
      .start()
    active = Some(q)
    q
  }

  /** Graceful shutdown drain (SURVEY §3.3) — parity with the reference's
    * SIGTERM handler (`src/model/app-context.ts:28-48`): stop accepting
    * new work, let the in-flight batch finish (its response rows are
    * written and its offsets committed), then terminate the query.
    *
    * Acquiring `batchLock` waits out the batch that is mid-processing;
    * `stop()` then interrupts the stream thread before the next batch
    * can run. A batch that was blocked on the lock is interrupted
    * un-committed, so the checkpoint replays it on the next `start` —
    * at-least-once is preserved across a drain.
    */
  def drain(timeoutMs: Long = 60000L): Unit = active.foreach { q =>
    batchLock.lock()
    try q.stop()
    finally batchLock.unlock()
    // awaitTermination returns false on timeout — a query still winding
    // down must not be reported (and de-tracked) as drained
    if (!q.awaitTermination(timeoutMs))
      throw new java.util.concurrent.TimeoutException(
        s"drain: query ${q.id} did not terminate within ${timeoutMs}ms")
    active = None
  }

  /** Process a batch of requests with at most `maxConcurrentMessages`
    * in flight — the reference's `maxConcurrentCalls` bound. Individual
    * failures are already absorbed into failure responses by
    * `processRequest`; a throwable that escapes anyway (OOM-class) fails
    * the batch, which the checkpoint then replays: at-least-once.
    */
  private[graft] def processAll(msgs: Seq[QueueMessage]): Unit = {
    if (msgs.isEmpty) return
    val pool = Executors.newFixedThreadPool(math.max(1, maxConcurrentMessages))
    val ec = ExecutionContext.fromExecutorService(pool)
    try {
      val inFlight = msgs.map(m => Future(engine.processRequest(m))(ec))
      inFlight.foreach(f => Await.result(f, Duration.Inf))
    } finally pool.shutdown()
  }
}
