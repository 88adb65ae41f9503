package graft.ndarray

/** Pure-JVM kernels over flat row-major Array[Float] buffers — the engine's
  * analogue of the reference's in-kernel numpy math (SURVEY.md §2a #12).
  * No Spark types here: everything is unit-testable without a session and
  * stays inside executor-local tight loops at runtime.
  */
object Nd {

  /** Linear-blend weight profile for the stitch path, one spatial axis.
    *
    * Reproduces /root/reference/dask_stitch/stitch.py:15-38: core of ones
    * sized `bs - 2*o + 2`, then on each side either a constant-1 pad
    * (domain boundary) or a linear ramp of length `2*o - 1` down to 0
    * (interior face). Total length = bs + 2*o (the input chunk extent).
    * Ramp values at distance j from the outer end: j / (2*o - 1)
    * (np.pad mode='linear_ramp', end_values=0 — verified profile for
    * bs=8,o=2: [0,1/3,2/3,1,...,1,2/3,1/3,0], SURVEY.md §2a #1).
    */
  def stitchProfile(bs: Int, o: Int, isLo: Boolean, isHi: Boolean): Array[Float] =
    rampProfile(bs + 2 * o, 2 * o - 1, isLo, isHi)

  /** Blend weight profile for the local-affine path, one spatial axis.
    *
    * Reproduces /root/reference/dask_stitch/local_affine.py:52-75:
    * `o' = max(0, 2*o - 1)`, core of ones sized `bs - o' + 1`, pads of
    * length `o'` per side (constant 1 at domain boundary, linear ramp to 0
    * interior). Total length = bs + o' + 1 — deliberately LONGER than the
    * block; `merge_neighbors` samples it through reversed slices
    * (local_affine.py:85-94), which is the source of the (4/3)^d seam
    * quirk this engine reproduces bug-for-bug (SURVEY.md §7.5).
    */
  def affineProfile(bs: Int, o: Int, isLo: Boolean, isHi: Boolean): Array[Float] = {
    val op = math.max(0, 2 * o - 1)
    rampProfile(bs + op + 1, op, isLo, isHi)
  }

  /** Ones of length `n`, with a linear ramp of length `ramp` from 0 at
    * each interior end (`!isLo` / `!isHi`): value j / ramp at distance j
    * from the outer end. The two profiles above differ only in length
    * (and only at o = 0).
    */
  private def rampProfile(n: Int, ramp: Int, isLo: Boolean, isHi: Boolean): Array[Float] = {
    val w = new Array[Float](n)
    java.util.Arrays.fill(w, 1.0f)
    if (!isLo) { var j = 0; while (j < ramp) { w(j) = j.toFloat / ramp; j += 1 } }
    if (!isHi) { var j = 0; while (j < ramp) { w(n - 1 - j) = j.toFloat / ramp; j += 1 } }
    w
  }

  /** In-place separable weighting: data(x,y,z,k) *= wx(x)*wy(y)*wz(z).
    * The product of per-axis profiles equals numpy's sequential
    * multi-axis linear_ramp pad (separability verified by the
    * partition-of-unity golden). Broadcast over the trailing component
    * axis mirrors stitch.py:42-43.
    */
  def mulSeparable(
      data: Array[Float], nx: Int, ny: Int, nz: Int, c: Int,
      wx: Array[Float], wy: Array[Float], wz: Array[Float]): Unit = {
    var i = 0
    var x = 0
    while (x < nx) {
      val fx = wx(x)
      var y = 0
      while (y < ny) {
        val fxy = fx * wy(y)
        if (c == 1) { // stride-1 row the JIT vectorizes; same products
          var z = 0
          while (z < nz) { data(i + z) = data(i + z) * (fxy * wz(z)); z += 1 }
          i += nz
        } else {
          var z = 0
          while (z < nz) {
            val f = fxy * wz(z)
            var k = 0
            while (k < c) { data(i) = data(i) * f; i += 1; k += 1 }
            z += 1
          }
        }
        y += 1
      }
      x += 1
    }
  }

  /** Copy a rectangular sub-region out of a row-major (nx,ny,nz,c) buffer. */
  def sliceCopy(
      src: Array[Float], nx: Int, ny: Int, nz: Int, c: Int,
      x0: Int, y0: Int, z0: Int, dx: Int, dy: Int, dz: Int): Array[Float] = {
    val out = new Array[Float](dx * dy * dz * c)
    val rowLen = dz * c
    var oi = 0
    var x = 0
    while (x < dx) {
      var y = 0
      while (y < dy) {
        val si = (((x0 + x) * ny + (y0 + y)) * nz + z0) * c
        System.arraycopy(src, si, out, oi, rowLen)
        oi += rowLen
        y += 1
      }
      x += 1
    }
    out
  }

  /** Fused slice + separable weighting: copy a sub-region while
    * multiplying by wx(x)*wy(y)*wz(z) (absolute tile coordinates). Saves
    * the full-tile clone + extra pass that a separate weighting step
    * costs — one fresh buffer per emitted piece instead of two per tile.
    * Bit-identical to mulSeparable-then-sliceCopy (float mul commutes
    * with copy).
    */
  def sliceCopyWeighted(
      src: Array[Float], nx: Int, ny: Int, nz: Int, c: Int,
      x0: Int, y0: Int, z0: Int, dx: Int, dy: Int, dz: Int,
      wx: Array[Float], wy: Array[Float], wz: Array[Float]): Array[Float] = {
    val out = new Array[Float](dx * dy * dz * c)
    var oi = 0
    var x = 0
    while (x < dx) {
      val fx = wx(x0 + x)
      var y = 0
      while (y < dy) {
        val fxy = fx * wy(y0 + y)
        var si = (((x0 + x) * ny + (y0 + y)) * nz + z0) * c
        if (c == 1) { // stride-1 row the JIT vectorizes; same products
          var z = 0
          while (z < dz) { out(oi + z) = src(si + z) * (fxy * wz(z0 + z)); z += 1 }
          oi += dz
        } else {
          var z = 0
          while (z < dz) {
            val f = fxy * wz(z0 + z)
            var k = 0
            while (k < c) { out(oi) = src(si) * f; oi += 1; si += 1; k += 1 }
            z += 1
          }
        }
        y += 1
      }
      x += 1
    }
    out
  }

  /** Add a (dx,dy,dz,c) patch into a row-major (nx,ny,nz,c) buffer at
    * offset (x0,y0,z0) — the `result[...] += ...` accumulation of
    * stitch.py:58-89 re-expressed as patch placement.
    */
  def addInto(
      dst: Array[Float], nx: Int, ny: Int, nz: Int, c: Int,
      patch: Array[Float], x0: Int, y0: Int, z0: Int, dx: Int, dy: Int, dz: Int): Unit = {
    val rowLen = dz * c
    var pi = 0
    var x = 0
    while (x < dx) {
      var y = 0
      while (y < dy) {
        var di = (((x0 + x) * ny + (y0 + y)) * nz + z0) * c
        var r = 0
        while (r < rowLen) { dst(di) += patch(pi); di += 1; pi += 1; r += 1 }
        y += 1
      }
      x += 1
    }
  }

  /** Copy (assign, not add) a (dx,dy,dz,c) patch into a row-major
    * (nx,ny,nz,c) buffer at offset (x0,y0,z0). Used by the generic halo
    * assembly where pieces are disjoint and the buffer may be pre-filled
    * with a nonzero boundary value (so += would be wrong).
    */
  def placeInto(
      dst: Array[Float], nx: Int, ny: Int, nz: Int, c: Int,
      patch: Array[Float], x0: Int, y0: Int, z0: Int, dx: Int, dy: Int, dz: Int): Unit = {
    val rowLen = dz * c
    var pi = 0
    var x = 0
    while (x < dx) {
      var y = 0
      while (y < dy) {
        val di = (((x0 + x) * ny + (y0 + y)) * nz + z0) * c
        System.arraycopy(patch, pi, dst, di, rowLen)
        pi += rowLen
        y += 1
      }
      x += 1
    }
  }

  /** dst[region] += src[region] for two row-major (.,.,.,c) buffers with
    * independent shapes/offsets, common extent (ex,ey,ez) — the generic
    * `result[slc1] += block[slc2]` of stitch.py:58-90.
    */
  def addRegion(
      dst: Array[Float], dny: Int, dnz: Int,
      src: Array[Float], sny: Int, snz: Int, c: Int,
      dx0: Int, dy0: Int, dz0: Int,
      sx0: Int, sy0: Int, sz0: Int,
      ex: Int, ey: Int, ez: Int): Unit = {
    val rowLen = ez * c
    var x = 0
    while (x < ex) {
      var y = 0
      while (y < ey) {
        var di = (((dx0 + x) * dny + (dy0 + y)) * dnz + dz0) * c
        var si = (((sx0 + x) * sny + (sy0 + y)) * snz + sz0) * c
        var r = 0
        while (r < rowLen) { dst(di) += src(si); di += 1; si += 1; r += 1 }
        y += 1
      }
      x += 1
    }
  }

  /** The reference's merge kernel (stitch.py:49-90) on a halo-extended
    * weighted chunk: input extent per axis is blocksize + 4*overlap
    * (chunk blocksize+2o, extended by depth=o per side); output extent is
    * exactly blocksize. Accumulation statement order matches the numpy
    * kernel exactly (core copy, faces per axis left/right, edges in
    * product([0,1]^2) x axis order, corners in product([0,1]^3) order) so
    * f32 results are bit-identical to the reference.
    */
  def mergeOverlaps(
      ext: Array[Float], mx: Int, my: Int, mz: Int, c: Int,
      bs: Array[Int], o: Array[Int]): Array[Float] = {
    val m = Array(mx, my, mz)
    (0 until 3).foreach { ax =>
      require(m(ax) == bs(ax) + 4 * o(ax),
        s"mergeOverlaps: extent ${m(ax)} != bs+4o = ${bs(ax) + 4 * o(ax)} on axis $ax")
    }
    // result = block[2o:-2o] (the core), writable copy
    val res = sliceCopy(ext, mx, my, mz, c, 2 * o(0), 2 * o(1), 2 * o(2), bs(0), bs(1), bs(2))
    // slice helpers in each coordinate system: (start, extent)
    // dst (result, shape bs): lo = [0,o); hi = [bs-o, bs); full = [0, bs)
    // src (extended, shape m): lo = [0,o); hi = [m-o, m); core = [2o, 2o+bs)
    def add(d0: Array[Int], s0: Array[Int], e: Array[Int]): Unit =
      addRegion(res, bs(1), bs(2), ext, my, mz, c,
        d0(0), d0(1), d0(2), s0(0), s0(1), s0(2), e(0), e(1), e(2))
    // faces
    var ax = 0
    while (ax < 3) {
      // left: result[0:o on ax] += ext[0:o on ax, core elsewhere]
      val dl = Array(0, 0, 0); val sl = Array(2 * o(0), 2 * o(1), 2 * o(2))
      val el = Array(bs(0), bs(1), bs(2))
      sl(ax) = 0; el(ax) = o(ax)
      add(dl, sl, el)
      // right: result[bs-o: on ax] += ext[m-o: on ax, core elsewhere]
      val dr = Array(0, 0, 0); val sr = Array(2 * o(0), 2 * o(1), 2 * o(2))
      val er = Array(bs(0), bs(1), bs(2))
      dr(ax) = bs(ax) - o(ax); sr(ax) = m(ax) - o(ax); er(ax) = o(ax)
      add(dr, sr, er)
      ax += 1
    }
    // edges: for each (e1,e2) pick lo/hi on the two non-ax axes; ax spans
    // full result / core of extended
    var e1 = 0
    while (e1 <= 1) {
      var e2 = 0
      while (e2 <= 1) {
        var ax2 = 0
        while (ax2 < 3) {
          val others = (0 until 3).filter(_ != ax2)
          val d0 = new Array[Int](3); val s0 = new Array[Int](3); val e = new Array[Int](3)
          d0(ax2) = 0; s0(ax2) = 2 * o(ax2); e(ax2) = bs(ax2)
          val picks = Array(e1, e2)
          var i = 0
          while (i < 2) {
            val oa = others(i)
            if (picks(i) == 0) { d0(oa) = 0; s0(oa) = 0 }
            else { d0(oa) = bs(oa) - o(oa); s0(oa) = m(oa) - o(oa) }
            e(oa) = o(oa)
            i += 1
          }
          add(d0, s0, e)
          ax2 += 1
        }
        e2 += 1
      }
      e1 += 1
    }
    // corners: same lo/hi slice applied to both arrays (each in its own shape)
    var c1 = 0
    while (c1 <= 1) {
      var c2 = 0
      while (c2 <= 1) {
        var c3 = 0
        while (c3 <= 1) {
          val picks = Array(c1, c2, c3)
          val d0 = new Array[Int](3); val s0 = new Array[Int](3); val e = new Array[Int](3)
          var i = 0
          while (i < 3) {
            if (picks(i) == 0) { d0(i) = 0; s0(i) = 0 }
            else { d0(i) = bs(i) - o(i); s0(i) = m(i) - o(i) }
            e(i) = o(i)
            i += 1
          }
          add(d0, s0, e)
          c3 += 1
        }
        c2 += 1
      }
      c1 += 1
    }
    res
  }

  /** max |a-b| over two equal-length buffers (test helper). */
  def maxAbsDiff(a: Array[Float], b: Array[Float]): Float = {
    require(a.length == b.length, s"${a.length} != ${b.length}")
    var m = 0.0f
    var i = 0
    while (i < a.length) { val d = math.abs(a(i) - b(i)); if (d > m) m = d; i += 1 }
    m
  }
}
