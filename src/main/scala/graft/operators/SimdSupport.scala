package graft.operators

import graft.simd.F32Ops

/**
 * Runtime selection of the serving-scan distance kernels: the SIMD
 * implementation ([[graft.simd.VectorF32]], JDK Vector API) when the JVM
 * was launched with `--add-modules=jdk.incubator.vector`, else the scalar
 * [[KnnSearch.F32Kernels]] family wrapped in the same interface.
 *
 * The probe EXECUTES each kernel once: class loading alone succeeds even
 * without the module (the vector types appear only in method bodies), so
 * the linkage error surfaces on first call — exactly what the smoke
 * checks catch. Checked against known values, not just non-throwing, so a
 * broken SIMD build can never silently serve wrong distances.
 *
 * Scope: serving tiers only (ServingIndex slab scans, LocalServing, HNSW
 * graph distances). Oracle-parity query paths keep calling the scalar
 * family directly — lane-wise accumulation reassociates float addition,
 * and those paths are proven bit-identical to the DuckDB oracle.
 */
object SimdSupport {

  /** Scalar fallback behind the shared interface. */
  private object ScalarOps extends F32Ops {
    def l2sq(q: Array[Float], v: Array[Float], off: Int, n: Int): Float =
      KnnSearch.F32Kernels.l2sq(q, v, off, n)
    def dot(q: Array[Float], v: Array[Float], off: Int, n: Int): Float =
      KnnSearch.F32Kernels.dot(q, v, off, n)
    def cosine(q: Array[Float], v: Array[Float], off: Int, n: Int): Float =
      KnnSearch.F32Kernels.cosine(q, v, off, n)
    def dequant(codes: Array[Byte], base: Int, n: Int,
                mn: Array[Float], st: Array[Float], out: Array[Float]): Unit = {
      var i = 0
      while (i < n) {
        out(i) = mn(i) + (codes(base + i) & 0xFF) * st(i)
        i += 1
      }
    }
  }

  /** The SIMD kernels, iff loadable AND numerically sane on this JVM. */
  val simd: Option[F32Ops] =
    try {
      val ops = Class.forName("graft.simd.VectorF32")
        .getDeclaredConstructor().newInstance().asInstanceOf[F32Ops]
      // 20 dims: exercises both the vector loop and the scalar tail
      val a = Array.tabulate(20)(i => (i + 1).toFloat)
      val b = Array.tabulate(20)(i => (i % 3).toFloat)
      val l2Ok = math.abs(ops.l2sq(a, b, 0, 20) - 2495.0f) < 1e-2
      val dotOk = math.abs(ops.dot(a, b, 0, 20) - 203.0f) < 1e-2
      val cosRef = KnnSearch.F32Kernels.cosine(a, b, 0, 20)
      val cosOk = math.abs(ops.cosine(a, b, 0, 20) - cosRef) < 1e-4f
      val zeroOk = ops.cosine(new Array[Float](4), a, 0, 4) == 0.0f
      // dequant must be BIT-identical to the scalar loop (per-lane
      // mul-then-add, no reduction) — 20 dims covers vector body + tail
      val codes = Array.tabulate(20)(i => ((i * 37 + 5) % 256).toByte)
      val mn = Array.tabulate(20)(i => -1.5f + i * 0.1f)
      val st = Array.tabulate(20)(i => 0.001f * (i + 1))
      val dqGot = new Array[Float](20)
      ops.dequant(codes, 0, 20, mn, st, dqGot)
      val dqOk = (0 until 20).forall(i =>
        dqGot(i) == mn(i) + (codes(i) & 0xFF) * st(i))
      if (l2Ok && dotOk && cosOk && zeroOk && dqOk) Some(ops) else None
    } catch { case _: Throwable => None }

  /** Best available kernels for serving scans. */
  val ops: F32Ops = simd.getOrElse(ScalarOps)
}
