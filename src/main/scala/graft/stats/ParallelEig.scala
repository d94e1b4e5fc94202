package graft.stats

import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import dev.ludovic.netlib.blas.BLAS
import dev.ludovic.netlib.lapack.LAPACK

/** Multithreaded dense symmetric eigensolver — the driver-side scale
  * path for PCNM's O(n^3) eigendecomposition (spatial_modelling.Rmd:213:
  * 9,366 surveys, ~3 min of optimized multi-threaded LAPACK in R).
  *
  * This container ships no native BLAS/LAPACK (`ldconfig` finds no
  * libblas/liblapack, and numpy's bundled OpenBLAS is ILP64 with `64_`
  * symbol suffixes netlib's JNI cannot bind), so the reference's number
  * cannot be met by swapping in `NativeLAPACK` — single-threaded F2J
  * `dsyev` measured ~25 min at this size. Instead the three phases of
  * the standard algorithm are parallelized directly, the same
  * decomposition LAPACK itself uses:
  *
  *  1. '''Blocked Householder tridiagonalization''' (`dsytrd`/`dlatrd`
  *     shape): panels of `nb` columns; per column one symmetric matvec
  *     over the trailing block (the memory-bound 2n^3/3-flop bulk —
  *     sharded across a thread pool by row block) plus O(n*nb) GEMV
  *     corrections; per panel one rank-2`nb` trailing update (BLAS3,
  *     sharded by column block). Full (both-triangle) storage keeps
  *     every sharded kernel a contiguous-stride GEMV/GEMM.
  *  2. '''Tridiagonal eigensolve''' via LAPACK `dstedc` (divide &
  *     conquer) — the O(n^2)-ish phase, fine single-threaded F2J.
  *  3. '''Blocked back-transform''' of the tridiagonal eigenvectors
  *     (`dorgtr`/`dlarfb` shape): per panel a compact-WY `T` factor
  *     (`dlarft`), applied Z := (I - V T V')Z sharded by Z column
  *     block — 2n^3 BLAS3 flops across the pool.
  *
  * Each shard calls dev.ludovic.netlib's best available single-threaded
  * kernel (VectorBLAS under `--add-modules=jdk.incubator.vector`, the
  * SIMD tier Spark itself uses on JDK 16+; Java11BLAS otherwise), so
  * thread-level and SIMD-level parallelism compose. Measured on this
  * host: the 9,366-point PCNM eigendecomposition drops
  * from ~25 min (breeze/F2J dsyev) to well inside the reference's 2x
  * target — SCALE.md records the parity run.
  */
object ParallelEig {

  private val blas = BLAS.getInstance
  private val lapack = LAPACK.getInstance

  /** Implementation names, for the parity record (VectorBLAS vs
    * Java11BLAS vs F2j tells the reader what tier actually ran). */
  def kernelNames: (String, String) =
    (blas.getClass.getSimpleName, lapack.getClass.getSimpleName)

  private lazy val pool = {
    val n = math.max(1, Runtime.getRuntime.availableProcessors())
    Executors.newFixedThreadPool(n, (r: Runnable) => {
      val t = new Thread(r, "graft-eig")
      t.setDaemon(true)
      t
    })
  }

  /** Runs `f` over `m` index ranges covering [0, total) on the pool and
    * waits; ranges are contiguous and near-equal. Serial when the work
    * is too small to be worth dispatching. Shared with
    * [[Multivariate]]'s O(n^2) matrix-construction phases (distance,
    * centering, eigenvector reordering), which parallelize per
    * row/column with element-identical arithmetic. */
  private[stats] def parallelRanges(total: Int, minPerTask: Int)(f: (Int, Int) => Unit): Unit = {
    val procs = Runtime.getRuntime.availableProcessors()
    val nTasks = math.max(1, math.min(procs, total / math.max(1, minPerTask)))
    if (nTasks <= 1) { f(0, total); return }
    val step = (total + nTasks - 1) / nTasks
    val calls = (0 until nTasks).map { t =>
      val lo = t * step
      val hi = math.min(total, lo + step)
      new Callable[Unit] { override def call(): Unit = if (lo < hi) f(lo, hi) }
    }
    pool.invokeAll(calls.asJava).asScala.foreach(_.get()) // propagate failures
  }

  /** In-place blocked Householder tridiagonalization of the symmetric
    * n x n column-major matrix `a` (BOTH triangles must be populated;
    * they are on every call path here). On return: `d` diagonal, `e`
    * subdiagonal, `tau` reflector scalars; column j of `a` holds the
    * FULL Householder vector (leading 1 explicit) in rows j+1..n-1 —
    * d/e live in their own arrays, so the storage convention is simpler
    * than LAPACK's. The trailing block stays fully symmetric throughout
    * (both triangles updated), which keeps the sharded matvecs plain
    * contiguous GEMVs. */
  private[stats] def tridiagonalize(a: Array[Double], n: Int, nb: Int)
      : (Array[Double], Array[Double], Array[Double]) = {
    val d = new Array[Double](n)
    val e = new Array[Double](math.max(n - 1, 0))
    val tau = new Array[Double](math.max(n - 1, 0))
    val w = new Array[Double](n * nb) // W panel, lda n (n capped far below Int overflow)
    var j0 = 0
    while (j0 < n) {
      val pb = math.min(nb, n - j0)
      var i = 0
      while (i < pb) {
        val j = j0 + i
        val m = n - j - 1
        if (i > 0) {
          // Fold the panel's previous reflectors into column j:
          // A(j:, j) -= V(j:, 0:i)·W(j, 0:i)' + W(j:, 0:i)·V(j, 0:i)'
          blas.dgemv("N", n - j, i, -1.0, a, j + j0 * n, n, w, j, n,
            1.0, a, j + j * n, 1)
          blas.dgemv("N", n - j, i, -1.0, w, j, n, a, j + j0 * n, n,
            1.0, a, j + j * n, 1)
        }
        d(j) = a(j + j * n)
        if (m > 0) {
          // Householder of x = A(j+1:, j): v (leading 1 explicit)
          // overwrites the column; e(j) = the induced subdiagonal.
          val off = (j + 1) + j * n
          val alpha = a(off)
          var nrm2 = 0.0
          var t = 1
          while (t < m) { val v = a(off + t); nrm2 += v * v; t += 1 }
          if (nrm2 == 0.0) {
            tau(j) = 0.0; e(j) = alpha; a(off) = 1.0
          } else {
            val beta =
              if (alpha >= 0) -math.sqrt(alpha * alpha + nrm2)
              else math.sqrt(alpha * alpha + nrm2)
            tau(j) = (beta - alpha) / beta
            val scale = 1.0 / (alpha - beta)
            var t2 = 1
            while (t2 < m) { a(off + t2) *= scale; t2 += 1 }
            a(off) = 1.0
            e(j) = beta
          }
          val wcol = i * n
          if (tau(j) == 0.0) {
            java.util.Arrays.fill(w, wcol + j + 1, wcol + n, 0.0)
          } else {
            val k = m
            val aoff = (j + 1) + (j + 1) * n
            // w := A_trail · v — the hot loop: sharded by row block,
            // each block one contiguous GEMV on the vector kernel.
            parallelRanges(k, 256) { (r0, r1) =>
              blas.dgemv("N", r1 - r0, k, 1.0, a, aoff + r0, n,
                a, (j + 1) + j * n, 1, 0.0, w, wcol + (j + 1) + r0, 1)
            }
            if (i > 0) {
              // w -= V·(W'v) + W·(V'v) (dlatrd's cross corrections)
              val tmpW = new Array[Double](i)
              val tmpV = new Array[Double](i)
              blas.dgemv("T", k, i, 1.0, w, j + 1, n,
                a, (j + 1) + j * n, 1, 0.0, tmpW, 0, 1)
              blas.dgemv("T", k, i, 1.0, a, (j + 1) + j0 * n, n,
                a, (j + 1) + j * n, 1, 0.0, tmpV, 0, 1)
              blas.dgemv("N", k, i, -1.0, a, (j + 1) + j0 * n, n,
                tmpW, 0, 1, 1.0, w, wcol + (j + 1), 1)
              blas.dgemv("N", k, i, -1.0, w, j + 1, n,
                tmpV, 0, 1, 1.0, w, wcol + (j + 1), 1)
            }
            blas.dscal(k, tau(j), w, wcol + (j + 1), 1)
            val dwv = blas.ddot(k, w, wcol + (j + 1), 1, a, (j + 1) + j * n, 1)
            blas.daxpy(k, -0.5 * tau(j) * dwv, a, (j + 1) + j * n, 1,
              w, wcol + (j + 1), 1)
          }
        }
        i += 1
      }
      // Rank-2·pb trailing update A(j1:, j1:) -= V·W' + W·V', BOTH
      // triangles (keeps the trailing block symmetric), sharded by
      // column block — pure BLAS3.
      val j1 = j0 + pb
      if (j1 < n) {
        val k = n - j1
        parallelRanges(k, 256) { (c0, c1) =>
          val nc = c1 - c0
          blas.dgemm("N", "T", k, nc, pb, -1.0, a, j1 + j0 * n, n,
            w, j1 + c0, n, 1.0, a, j1 + (j1 + c0) * n, n)
          blas.dgemm("N", "T", k, nc, pb, -1.0, w, j1, n,
            a, (j1 + c0) + j0 * n, n, 1.0, a, j1 + (j1 + c0) * n, n)
        }
      }
      j0 = j1
    }
    (d, e, tau)
  }

  /** Z := Q·Z where Q = H_0 H_1 ... H_{n-2} is the tridiagonalizing
    * transform stored in `a`/`tau` by [[tridiagonalize]] — blocked
    * compact-WY (`dlarft` + `dlarfb` shape), panels applied in reverse
    * order, sharded across Z column blocks. */
  private[stats] def backTransform(a: Array[Double], n: Int,
                                   tau: Array[Double], z: Array[Double],
                                   nb: Int): Unit = {
    val panelStarts =
      Iterator.iterate(0)(_ + nb).takeWhile(_ < n).toArray.reverse
    val v = new Array[Double](n * nb) // clean staircase copy, ld k
    val tm = new Array[Double](nb * nb)
    val tcol = new Array[Double](nb)
    panelStarts.foreach { j0 =>
      val pb = math.min(nb, n - j0)
      val k = n - j0 - 1 // reflector rows j0+1..n-1
      if (k > 0) {
        // V: k x pb unit-lower-trapezoidal copy (zeros above the
        // staircase made explicit; the source columns carry stale
        // matrix values there).
        var t = 0
        while (t < pb) {
          val col = t * k
          java.util.Arrays.fill(v, col, col + math.min(t, k), 0.0)
          var r = t
          while (r < k) { v(col + r) = a((j0 + 1 + r) + (j0 + t) * n); r += 1 }
          t += 1
        }
        // T (forward columnwise dlarft): T(0:t,t) from V'V(:,t).
        java.util.Arrays.fill(tm, 0, pb * nb, 0.0)
        t = 0
        while (t < pb) {
          val tj = if (j0 + t < tau.length) tau(j0 + t) else 0.0
          if (tj != 0.0) {
            if (t > 0) {
              blas.dgemv("T", k, t, 1.0, v, 0, k, v, t * k, 1, 0.0, tcol, 0, 1)
              blas.dtrmv("U", "N", "N", t, tm, 0, nb, tcol, 0, 1)
              var s = 0
              while (s < t) { tm(s + t * nb) = -tj * tcol(s); s += 1 }
            }
            tm(t + t * nb) = tj
          }
          t += 1
        }
        // Z(j0+1:, :) := (I - V T V') Z(j0+1:, :), by column block.
        parallelRanges(n, 64) { (c0, c1) =>
          val nc = c1 - c0
          val y = new Array[Double](pb * nc)
          blas.dgemm("T", "N", pb, nc, k, 1.0, v, 0, k,
            z, (j0 + 1) + c0 * n, n, 0.0, y, 0, pb)
          blas.dtrmm("L", "U", "N", "N", pb, nc, 1.0, tm, 0, nb, y, 0, pb)
          blas.dgemm("N", "N", k, nc, pb, -1.0, v, 0, k,
            y, 0, pb, 1.0, z, (j0 + 1) + c0 * n, n)
        }
      }
    }
  }

  /** Full eigendecomposition of the symmetric n x n column-major matrix
    * `a` (both triangles populated; DESTROYED in place). Returns
    * (eigenvalues ascending, eigenvectors column-major n x n, column k
    * pairing with eigenvalue k) — the `dsyevd` contract. */
  def eigSym(a: Array[Double], n: Int, nb: Int = 64,
             verbose: Boolean = false): (Array[Double], Array[Double]) = {
    require(n >= 1, "eigSym needs n >= 1")
    require(a.length >= n.toLong * n, s"matrix storage too small for n=$n")
    if (n == 1) return (Array(a(0)), Array(1.0))
    val t0 = System.nanoTime()
    val (d, e, tau) = tridiagonalize(a, n, math.min(nb, n))
    val t1 = System.nanoTime()
    val z = new Array[Double](n * n)
    val lwork = 1 + 4 * n + n * n
    val work = new Array[Double](lwork)
    val liwork = 3 + 5 * n
    val iwork = new Array[Int](liwork)
    val info = new org.netlib.util.intW(0)
    lapack.dstedc("I", n, d, e, z, n, work, lwork, iwork, liwork, info)
    require(info.`val` == 0, s"dstedc failed: info=${info.`val`}")
    val t2 = System.nanoTime()
    backTransform(a, n, tau, z, math.min(nb, n))
    if (verbose)
      System.err.println(f"[paralleleig] n=$n tridiag=${(t1 - t0) / 1e9}%.1fs " +
        f"dstedc=${(t2 - t1) / 1e9}%.1fs backtransform=${(System.nanoTime() - t2) / 1e9}%.1fs")
    (d, z)
  }
}
