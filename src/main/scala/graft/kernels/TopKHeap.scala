package graft.kernels

/** The reference's k-slot array (sqlite-vector.c:2022-2113) as a bounded
  * max-heap on (distance, id): the worst kept row sits at the root, and a
  * row enters only if it sorts before it, so ties break by id. Slots grow
  * on demand up to k, so a k far beyond the row count allocates only what
  * it keeps. The quantized top-k operator's tasks and driver merge, the
  * certificate's code pass, and `knn_topk`'s aggregation buffer, are this
  * heap.
  */
final class TopKHeap(k: Int) extends DistanceSink {
  private var d = new Array[Double](math.min(k, 64))
  private var ids = new Array[Long](math.min(k, 64))
  private var n = 0

  @inline private def before(x: Double, xi: Long, y: Double, yi: Long): Boolean = x < y || (x == y && xi < yi)

  def size: Int = n

  /** The distance of the last row kept; the heap must not be empty. */
  def worst: Double = d(0)

  def offer(dist: Double, id: Long): Unit =
    if (n < k) {
      if (n == d.length) {
        val c = math.min(k.toLong, 2L * n).toInt
        d = java.util.Arrays.copyOf(d, c); ids = java.util.Arrays.copyOf(ids, c)
      }
      var i = n
      n += 1
      while (i > 0 && before(d((i - 1) / 2), ids((i - 1) / 2), dist, id)) {
        val p = (i - 1) / 2
        d(i) = d(p); ids(i) = ids(p); i = p
      }
      d(i) = dist; ids(i) = id
    } else if (k > 0 && before(dist, id, d(0), ids(0))) siftDown(dist, id, n)

  /** Visits the kept rows in heap order, leaving the heap as it is. */
  def foreach(f: (Double, Long) => Unit): Unit = {
    var i = 0
    while (i < n) { f(d(i), ids(i)); i += 1 }
  }

  /** Places (dist, id) at the root of the first `m` slots and sifts it down. */
  private def siftDown(dist: Double, id: Long, m: Int): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1
      if (l >= m) done = true
      else {
        val c = if (l + 1 < m && before(d(l), ids(l), d(l + 1), ids(l + 1))) l + 1 else l
        if (before(dist, id, d(c), ids(c))) { d(i) = d(c); ids(i) = ids(c); i = c } else done = true
      }
    }
    d(i) = dist; ids(i) = id
  }

  /** The kept rows in ascending (distance, id) order; empties the heap. */
  def drainSorted(): (Array[Double], Array[Long]) = {
    var m = n
    while (m > 1) {
      m -= 1
      val (ld, li) = (d(m), ids(m))
      d(m) = d(0); ids(m) = ids(0)
      siftDown(ld, li, m)
    }
    val out = (java.util.Arrays.copyOf(d, n), java.util.Arrays.copyOf(ids, n))
    n = 0
    out
  }
}

/** Where one partition's (distance, id) rows go, and what comes back:
  * the rows kept, in ascending (distance, id) order.
  */
trait DistanceSink {
  def offer(dist: Double, id: Long): Unit
  def drainSorted(): (Array[Double], Array[Long])
}
