package graftbench

import java.util.concurrent.atomic.AtomicLong

import graft.functions.{Embedder, LlmBackend, NliModel}

/** Calls and busy time at graft's `functions` boundary. The counters
  * are JVM-global: in local mode every task runs in this JVM, and a
  * closure's deserialized wrapper copy still counts into the same
  * totals. */
object ModelCounters {
  val embedCalls = new AtomicLong
  val nliCalls = new AtomicLong
  val llmCalls = new AtomicLong
  val busyNanos = new AtomicLong

  final case class Snapshot(embed: Long, nli: Long, llm: Long, busyNanos: Long) {
    def -(o: Snapshot): Snapshot =
      Snapshot(embed - o.embed, nli - o.nli, llm - o.llm, busyNanos - o.busyNanos)
  }

  def snapshot: Snapshot =
    Snapshot(embedCalls.get, nliCalls.get, llmCalls.get, busyNanos.get)

  private[graftbench] def timed[T](calls: AtomicLong)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      busyNanos.addAndGet(System.nanoTime() - t0)
      calls.incrementAndGet()
    }
  }
}

/** Counting wrappers: each delegates every member to the wrapped
  * model, so outputs are byte-identical to the unwrapped stubs. */
final class CountingEmbedder(inner: Embedder) extends Embedder {
  def dim: Int = inner.dim
  def embed(text: String): Array[Float] =
    ModelCounters.timed(ModelCounters.embedCalls)(inner.embed(text))
}

final class CountingNli(inner: NliModel) extends NliModel {
  def entails(premise: String, hypothesis: String): Boolean =
    ModelCounters.timed(ModelCounters.nliCalls)(inner.entails(premise, hypothesis))
}

final class CountingLlm(inner: LlmBackend) extends LlmBackend {
  override def handlesGrammars: Boolean = inner.handlesGrammars
  def invoke(prompt: String, maxTokens: Int, grammar: Option[String],
      stop: Seq[String]): String =
    ModelCounters.timed(ModelCounters.llmCalls)(inner.invoke(prompt, maxTokens, grammar, stop))
}
