package graft.util

import java.util.concurrent.{Callable, ExecutionException, Future,
  LinkedBlockingQueue, ThreadFactory, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Ordered, bounded parallel map over an iterator. `f` runs on one
  * JVM-wide pool of daemon threads while the caller keeps pulling (and
  * producing) input; results come back in input order. At most
  * `2 × width` inputs are in flight — submitted and not yet returned by
  * `next()` — so memory is bounded by the window, not the input.
  *
  * `f` must be pure: it runs off the calling thread, so anything
  * confined to that thread (Spark accumulators, the TaskContext) belongs
  * with the consumer of the results.
  */
object OrderedFanOut {

  /** One pool for the JVM, as wide as the machine: however many windows
    * are open at once, they share these threads. Idle threads time out.
    */
  private lazy val pool: ThreadPoolExecutor = {
    val n = Runtime.getRuntime.availableProcessors()
    val seq = new AtomicInteger(0)
    val factory = new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-fanout-${seq.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    }
    val p = new ThreadPoolExecutor(n, n, 30L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), factory)
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** `in.map(f)` with up to `2 × width` applications of `f` in flight on
    * the shared pool. `width` must be at least 1.
    */
  def map[A, B](in: Iterator[A], width: Int)(f: A => B): Window[A, B] = {
    require(width >= 1, s"width must be at least 1, got $width")
    new Window(in, 2 * width, f)
  }

  /** The ordered result iterator. Not thread-safe: `hasNext`, `next` and
    * [[close]] belong to one consumer thread (a Spark task's completion
    * listeners run on the task thread).
    */
  final class Window[A, B] private[OrderedFanOut] (
      in: Iterator[A], depth: Int, f: A => B)
      extends Iterator[B] with AutoCloseable {
    private val pending = new java.util.ArrayDeque[Future[B]](depth)
    private var closed = false

    private def fill(): Unit =
      while (!closed && pending.size < depth && in.hasNext) {
        val a = in.next()
        pending.addLast(pool.submit(new Callable[B] {
          def call(): B = f(a)
        }))
      }

    def hasNext: Boolean = { fill(); !pending.isEmpty }

    /** The next result in input order; a failure of `f` is rethrown as
      * its original exception, not wrapped in `ExecutionException`.
      */
    def next(): B = {
      fill()
      val head = pending.pollFirst()
      if (head == null) throw new NoSuchElementException("empty window")
      try head.get()
      catch {
        case e: ExecutionException if e.getCause != null => throw e.getCause
      }
    }

    /** Cancel everything still pending (interrupting running work) and
      * stop reading input: for a consumer that fails or stops early.
      */
    def close(): Unit = {
      closed = true
      pending.forEach(_.cancel(true))
      pending.clear()
    }
  }
}
