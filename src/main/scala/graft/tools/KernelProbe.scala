package graft.tools

import java.util.concurrent.atomic.AtomicLong

import graft.encode.{CharVocab, Encoder}
import graft.model.{Gazetteer, Kernel, KernelConfig}
import graft.schema.Ontology

/** Plain-JVM thread-scaling probe for the inference kernel (no Spark):
  * isolates hardware/JVM scaling from Spark scheduling effects. */
object KernelProbe {

  def main(args: Array[String]): Unit = {
    val kernel = new Kernel(KernelConfig(), CharVocab.size)
    val gaz = Gazetteer.fromLexicon()
    val text = "胸部CT检查所见：孤立性结节，左肺上叶，类圆形，约12×8mm，实性密度。余未见异常。"
    val question = Ontology.subject2question("Mass")

    // batch=1 → row-at-a-time; batch=32 → the reference's DataLoader shape
    def run(threads: Int, rowsPerThread: Int, batch: Int): Double = {
      val done = new AtomicLong()
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { _ =>
        new Thread(() => {
          var i = 0
          while (i < rowsPerThread) {
            val m = math.min(batch, rowsPerThread - i)
            val reqs = Array.fill(m) {
              val row = Encoder.encode(text, question, 168)
              val bias = gaz.subjectSpans(text, "Mass")
              (row, bias, 2)
            }
            kernel.tagBatch(reqs).foreach(t => done.addAndGet(t.length))
            i += m
          }
        })
      }
      ts.foreach(_.start())
      ts.foreach(_.join())
      val sec = (System.nanoTime() - t0) / 1e9
      threads * rowsPerThread / sec
    }

    // parity guard: batched decode must be bit-identical to row-at-a-time
    val rowP = Encoder.encode(text, question, 168)
    val biasP = gaz.subjectSpans(text, "Mass")
    val one = kernel.tag(rowP, biasP, 2).toSeq
    assert(kernel.tagBatch(Array.fill(32)((rowP, biasP, 2))).forall(_.toSeq == one),
      "batched tags diverge from row-at-a-time")

    run(4, 512, 1); run(4, 512, 32) // warmup both shapes
    val b1 = run(8, 4096, 1)
    val b32 = run(8, 4096, 32)
    println(f"batch effect @8t: rows/sec batch1=$b1%.0f batch32=$b32%.0f win=${b32 / b1}%.2fx")
    def runB(t: Int, r: Int) = run(t, r, 32)
    val r2 = runB(2, 4096)
    val r8 = runB(8, 4096)
    val r4 = runB(4, 4096)
    val r16 = runB(16, 4096)
    val r32 = runB(32, 4096)
    println(f"rows/sec @2=$r2%.0f @4=$r4%.0f @8=$r8%.0f @16=$r16%.0f @32=$r32%.0f")
    println(f"eff 2->8=${(r8 / r2) / 4.0}%.3f 4->16=${(r16 / r4) / 4.0}%.3f 8->32=${(r32 / r8) / 4.0}%.3f")
  }
}
