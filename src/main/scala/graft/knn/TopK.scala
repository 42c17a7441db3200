package graft.knn

/** Bounded top-k collector keeping the k smallest (distance, id) pairs with
  * deterministic lexicographic tie-break (distance, then id).
  *
  * Binary max-heap on (dist, id): the root is the current worst kept
  * candidate, so an incoming element only displaces it when strictly better.
  * This reproduces the reference's max-priority-queue result semantics
  * (`/root/reference/utils/priority_queue.go`, used by `index/hnsw.go:314`)
  * with an explicit id tie-break so distributed merges are deterministic.
  * Distances order as Spark sorts doubles ([[TopK.compare]]): NaN (a
  * cosine distance to a zero vector) after every number, so it never
  * shadows a real candidate at the root.
  *
  * Serializable, so a partition's heaps travel to the driver as they are
  * ([[Knn.scanHeaps]]); the arrays grow with the count up to `k`, so a
  * sparsely filled heap ships no empty slots beyond twice its count.
  */
final class TopK(k: Int) extends Serializable {
  private var dists = new Array[Double](math.min(k, 16))
  private var ids = new Array[Long](math.min(k, 16))
  private var count = 0

  def size: Int = count

  @inline private def worse(d1: Double, i1: Long, d2: Double, i2: Long): Boolean = {
    val c = TopK.compare(d1, d2)
    c > 0 || (c == 0 && i1 > i2)
  }

  private def siftUp(pos0: Int): Unit = {
    var pos = pos0
    while (pos > 0) {
      val parent = (pos - 1) >> 1
      if (worse(dists(pos), ids(pos), dists(parent), ids(parent))) {
        swap(pos, parent); pos = parent
      } else return
    }
  }

  private def siftDown(): Unit = {
    var pos = 0
    while (true) {
      val l = 2 * pos + 1
      val r = l + 1
      var largest = pos
      if (l < count && worse(dists(l), ids(l), dists(largest), ids(largest))) largest = l
      if (r < count && worse(dists(r), ids(r), dists(largest), ids(largest))) largest = r
      if (largest == pos) return
      swap(pos, largest)
      pos = largest
    }
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val td = dists(i); dists(i) = dists(j); dists(j) = td
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
  }

  /** Whether [[push]] would keep (dist, id) now. */
  @inline private def admits(dist: Double, id: Long): Boolean =
    count < k || (k > 0 && worse(dists(0), ids(0), dist, id))

  private def holds(id: Long): Boolean = {
    var i = 0
    while (i < count) { if (ids(i) == id) return true; i += 1 }
    false
  }

  /** [[push]] unless the heap already holds `id`: the push of a spilled
    * IVF assignment, whose replicas of one id share one vector and so
    * arrive with one distance. A replica that was kept and later
    * displaced cannot be admitted again (everything kept is now strictly
    * better), so each id takes at most one slot. Only an admitted
    * candidate pays the O(k) membership scan.
    */
  def pushDistinct(dist: Double, id: Long): Unit =
    if (admits(dist, id) && !holds(id)) push(dist, id)

  def push(dist: Double, id: Long): Unit = {
    if (count < k) {
      if (count == dists.length) {
        val cap = math.min(k, 2 * count)
        dists = java.util.Arrays.copyOf(dists, cap)
        ids = java.util.Arrays.copyOf(ids, cap)
      }
      dists(count) = dist
      ids(count) = id
      count += 1
      siftUp(count - 1)
    } else if (k > 0 && worse(dists(0), ids(0), dist, id)) {
      dists(0) = dist
      ids(0) = id
      siftDown()
    }
  }

  /** Ascending (dist, id) order. */
  def sorted: Array[(Double, Long)] = {
    val out = Array.tabulate(count)(i => (dists(i), ids(i)))
    scala.util.Sorting.stableSort(out, (a: (Double, Long), b: (Double, Long)) =>
      worse(b._1, b._2, a._1, a._2))
    out
  }

  def mergeFrom(other: TopK): Unit = mergeFrom(other, distinct = false)

  /** Push every candidate `other` holds; with `distinct`, as
    * [[pushDistinct]] (the merge of two partitions' heaps over a spilled
    * IVF assignment).
    */
  def mergeFrom(other: TopK, distinct: Boolean): Unit = {
    var i = 0
    while (i < other.count) {
      if (distinct) pushDistinct(other.dists(i), other.ids(i)) else push(other.dists(i), other.ids(i))
      i += 1
    }
  }
}

object TopK {
  /** Spark's order of doubles (`SQLOrderingUtil.compareDoubles`): -0.0
    * equals 0.0, and NaN equals NaN and sorts after every number — the
    * order [[Knn.topK]]'s window ranks `dist` by.
    */
  @inline def compare(a: Double, b: Double): Int =
    if (a < b) -1 else if (a > b) 1 else if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Push dist(row, query) for every (row, query) pair into per-query
    * heaps, scanning in BLOCKS: a block of rows is buffered, then each
    * query vector streams over the block, so a query vector is loaded
    * once per block instead of once per row. With thousands of queries
    * per task the row-major loop is memory-bound on re-streaming the
    * whole query set through cache for every row (measured 2.2× on the
    * 100k-query IVF×SQ8 scan); block-major turns it kernel-bound. Heap
    * contents are insertion-order-independent ((dist, id) selection), so
    * blocking cannot change results.
    */
  def scanBlocked(
      rows: Iterator[(Long, Array[Float])],
      qvecs: Array[Array[Float]],
      heaps: Array[TopK],
      dist: (Array[Float], Array[Float]) => Double,
      blockSize: Int = 256): Unit = {
    val block = new Block(blockSize, qvecs, heaps, dist, null, distinct = false)
    rows.foreach { case (id, v) => block.add(id, -1, v) }
    block.flush()
  }

  /** [[scanBlocked]] over IVF rows (id, cell, vector): query `qi` scans
    * only the rows of the cells `masks` probes for it ([[Ivf.allowed]]),
    * and with `distinct` each heap takes an id once ([[TopK.pushDistinct]]).
    */
  def scanBlocked(
      rows: Iterator[(Long, Int, Array[Float])],
      qvecs: Array[Array[Float]],
      heaps: Array[TopK],
      dist: (Array[Float], Array[Float]) => Double,
      masks: Array[Array[Boolean]],
      distinct: Boolean): Unit = {
    val block = new Block(256, qvecs, heaps, dist, masks, distinct)
    rows.foreach { case (id, cell, v) => block.add(id, cell, v) }
    block.flush()
  }

  /** The row buffer of both scans, flushed query-major into the heaps. */
  private final class Block(
      size: Int,
      qvecs: Array[Array[Float]],
      heaps: Array[TopK],
      dist: (Array[Float], Array[Float]) => Double,
      masks: Array[Array[Boolean]],
      distinct: Boolean) {
    private val vecs = new Array[Array[Float]](size)
    private val ids = new Array[Long](size)
    private val cells = new Array[Int](size)
    private var fill = 0

    def add(id: Long, cell: Int, v: Array[Float]): Unit = {
      vecs(fill) = v
      ids(fill) = id
      cells(fill) = cell
      fill += 1
      if (fill == size) flush()
    }

    def flush(): Unit = {
      var qi = 0
      while (qi < qvecs.length) {
        val qv = qvecs(qi)
        val h = heaps(qi)
        var bi = 0
        while (bi < fill) {
          if (masks == null || Ivf.allowed(masks, qi, cells(bi))) {
            val d = dist(vecs(bi), qv)
            if (distinct) h.pushDistinct(d, ids(bi)) else h.push(d, ids(bi))
          }
          bi += 1
        }
        qi += 1
      }
      fill = 0
    }
  }
}
