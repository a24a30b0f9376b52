package graft.log

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors}
import scala.concurrent.{Future, Promise}

import graft.model._

/** A8 — pipelined append session with the reference's poison/ordered-ack
  * contract (lite/src/backend/append.rs:95-273):
  *
  *  - submissions are applied in submission order, so acks can never
  *    reorder (`FuturesOrdered` + per-stream actor in the reference;
  *    a single worker draining a FIFO here);
  *  - an ack is completed only after its batch is durable — and
  *    durability is a GROUP barrier: the drain takes every queued
  *    submission (bounded by `groupMaxBatches`), applies them through
  *    `StreamStore.appendGroup` under ONE manifest commit, and
  *    completes their acks in order behind that shared barrier. This
  *    is the reference's append pipelining ("Appends are pipelined to
  *    improve performance against object storage latency",
  *    README:176): while the caller keeps submitting, in-flight
  *    batches amortize the object-store round trip instead of paying
  *    read+PUT+CAS each.
  *  - a failed append POISONS the session (`SessionState.poisoned`,
  *    append.rs:99-131): every not-yet-applied submission and every
  *    later submit fails with `SessionPoisoned` instead of being
  *    applied, so an observer can never see an ack reorder past a failure —
  *    acks for batches submitted before the failure still complete
  *    (appendGroup commits the valid prefix exactly like the serial
  *    loop did).
  *
  * Transient failures retry IN PLACE with capped exponential backoff
  * before the session poisons (the reference SDK's retry policy,
  * sdk/src/retry.rs): a thrown `ManifestCasConflict` (a competing
  * writer racing the manifest commit) is retried up to `maxRetries`
  * times — safe because the losing group deletes its data object
  * before rethrowing, so the re-drive can't duplicate seq_nums.
  * Everything else — deterministic rejections (SeqNumMismatch,
  * fencing, caps…) AND IO failures (disk-full would fail identically
  * every attempt) — never retries. Retrying on the single drain
  * thread keeps the ordered-ack contract intact.
  */
final class AppendSession(store: StreamStore, basin: String, stream: String,
                          nowMs: Option[Long] = None,
                          cipher: Option[Array[Byte]] = None,
                          maxRetries: Int = 3,
                          retryBackoffMs: Long = 10,
                          groupMaxBatches: Int = 64,
                          groupMaxBytes: Long = 8L * 1024 * 1024) {

  /** The group append the drain applies: one call commits a backlog of
    * batches under one manifest CAS and returns the acks of the
    * committed prefix plus the first failure. Injectable so specs can
    * script the retry matrix. */
  @volatile private[log] var appendGroupOp
      : Seq[AppendInput] => (Seq[AppendAck], Option[(Int, AppendError)]) =
    inputs => store.appendGroup(basin, stream, inputs, nowMs, cipher)

  /** Transient = worth retrying. ONLY the manifest-CAS race qualifies:
    * a competing writer advanced the tail, and `StreamStore.appendGroup`
    * deletes its data object before rethrowing, so re-driving the group
    * against the new tail is safe and duplicate-free. IOExceptions in
    * an embedded store are deterministic (disk-full, permissions) and
    * would fail identically on every attempt — blanket-retrying them
    * only burned bounded sleeps on the drain thread before poisoning
    * (the reference SDK retries by status, sdk/src/retry.rs). */
  private def retryable(t: Throwable): Boolean = t match {
    case _: ManifestCasConflict => true
    case _ => false
  }

  sealed trait SessionError
  object SessionError {
    final case class Append(e: AppendError) extends SessionError
    case object SessionPoisoned extends SessionError
    case object SessionClosed extends SessionError
  }

  private final case class Pending(input: AppendInput,
                                   p: Promise[Either[SessionError, AppendAck]])

  private val queue = new ConcurrentLinkedQueue[Pending]()
  private val lock = new Object
  @volatile private var poisoned = false
  @volatile private var closed = false
  private val drained = new CountDownLatch(1)
  private val worker = Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, s"graft-append-session-$basin-$stream")
    t.setDaemon(true)
    t
  })
  worker.submit(new Runnable { def run(): Unit = drain() })

  /** Enqueue an append; the returned future completes in submission
    * order. After a failure, completes immediately with
    * `SessionPoisoned` (admit() returning None, append.rs:115-131).
    */
  def submit(input: AppendInput): Future[Either[SessionError, AppendAck]] = {
    val p = Promise[Either[SessionError, AppendAck]]()
    lock.synchronized {
      if (poisoned) p.success(Left(SessionError.SessionPoisoned))
      else if (closed) p.success(Left(SessionError.SessionClosed))
      else { queue.add(Pending(input, p)); lock.notifyAll() }
    }
    p.future
  }

  private def drain(): Unit = {
    try {
      while (!closed || !queue.isEmpty) {
        val first = lock.synchronized {
          var n = queue.poll()
          while (n == null && !closed) { lock.wait(50); n = queue.poll() }
          n
        }
        if (first != null) {
          // take the whole backlog (bounded in batches AND metered
          // bytes — the group becomes one parquet object and one
          // in-memory record run): everything submitted while the
          // previous group was committing rides ONE durability
          // barrier — this is where pipelining throughput comes from
          // on a high-RTT backend
          def bytesOf(p: Pending): Long =
            p.input.records.iterator.map(_.meteredSize).sum
          // peek-before-poll keeps groupMaxBytes a HARD cap (ADVICE
          // r16: poll-then-check could overshoot by one full batch) —
          // safe because this drain thread is the queue's only
          // consumer; a batch that would overshoot stays queued and
          // leads the next group. The first batch always rides even
          // if it alone exceeds the cap (it must commit eventually).
          val group = scala.collection.mutable.ArrayBuffer(first)
          var groupBytes = bytesOf(first)
          var more = queue.peek()
          while (more != null &&
                 group.size < groupMaxBatches &&
                 groupBytes + bytesOf(more) <= groupMaxBytes) {
            queue.poll()
            group += more
            groupBytes += bytesOf(more)
            more = queue.peek()
          }
          if (poisoned)
            group.foreach(_.p.success(Left(SessionError.SessionPoisoned)))
          else drainGroup(group.toSeq)
        }
      }
    } finally drained.countDown()
  }

  /** One group append (one manifest CAS) for the whole backlog;
    * in-place retry of the WHOLE group on a transient CAS race (nothing
    * committed — the group's object is deleted before the rethrow). Any
    * other throw (IO failure) poisons and completes every promise: a
    * dead worker with hanging futures would deadlock Producer permits
    * forever. */
  private def drainGroup(group: Seq[Pending]): Unit = {
    var attempt = 0
    var out: (Seq[AppendAck], Option[(Int, AppendError)]) = null
    while (out == null) {
      try out = appendGroupOp(group.map(_.input))
      catch {
        case e: Throwable if attempt < maxRetries && retryable(e) =>
          attempt += 1
          Thread.sleep(math.min(retryBackoffMs << (attempt - 1), 1000L))
        case e: Throwable =>
          out = (Nil, Some((0, AppendError.InvalidBatch(s"append threw: ${e.getMessage}"))))
      }
    }
    val (acks, failure) = out
    acks.zipWithIndex.foreach { case (a, i) => group(i).p.success(Right(a)) }
    failure.foreach { case (idx, err) =>
      // poison BEFORE completing the failure, so no later submission
      // can be admitted concurrently with the error
      lock.synchronized { poisoned = true }
      group(idx).p.success(Left(SessionError.Append(err)))
      group.drop(idx + 1).foreach(_.p.success(Left(SessionError.SessionPoisoned)))
    }
  }

  /** Stop accepting submissions; pending ones still complete in order. */
  def close(): Unit = {
    lock.synchronized { closed = true; lock.notifyAll() }
    drained.await()
    worker.shutdown()
  }
}
