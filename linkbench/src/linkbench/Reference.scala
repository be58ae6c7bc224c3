package linkbench

/**
 * Single-threaded in-memory kernels over the generated edge table. They
 * share no code with the engine, so they can check the engine's output on
 * any seed. Vertex ids are dense enough (< 2^31) to index arrays directly;
 * `present` marks the ids that appear on some edge.
 */
final class Reference(src: Array[Int], dst: Array[Int], idSpace: Int) {
  private val m = src.length
  val present: Array[Boolean] = {
    val p = new Array[Boolean](idSpace); var i = 0
    while (i < m) { p(src(i)) = true; p(dst(i)) = true; i += 1 }
    p
  }
  val vertexCount: Int = present.count(identity)

  /** Compressed adjacency: neighbours of v are adj(off(v) until off(v+1)). */
  private def csr(from: Array[Int], to: Array[Int]): (Array[Int], Array[Int]) = {
    val off = new Array[Int](idSpace + 1)
    from.foreach(v => off(v + 1) += 1)
    var v = 0
    while (v < idSpace) { off(v + 1) += off(v); v += 1 }
    val fill = off.clone(); val adj = new Array[Int](from.length); var i = 0
    while (i < from.length) { adj(fill(from(i))) = to(i); fill(from(i)) += 1; i += 1 }
    (off, adj)
  }

  /** PageRank with dangling mass spread uniformly; starts at 1/n. */
  def pageRank(iterations: Int, d: Double = 0.85): Array[Double] = {
    val n = vertexCount.toDouble
    val outDeg = new Array[Int](idSpace)
    src.foreach(s => outDeg(s) += 1)
    var rank = Array.tabulate(idSpace)(v => if (present(v)) 1.0 / n else 0.0)
    for (_ <- 0 until iterations) {
      var dangling = 0.0; var v = 0
      while (v < idSpace) { if (present(v) && outDeg(v) == 0) dangling += rank(v); v += 1 }
      val contrib = new Array[Double](idSpace); var i = 0
      while (i < m) { contrib(dst(i)) += rank(src(i)) / outDeg(src(i)); i += 1 }
      val base = (1.0 - d) / n + d * dangling / n
      rank = Array.tabulate(idSpace)(u => if (present(u)) base + d * contrib(u) else 0.0)
    }
    rank
  }

  /** Connected-component label = smallest id in the component (union-find). */
  def components(): Array[Int] = {
    val parent = Array.tabulate(idSpace)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    var i = 0
    while (i < m) {
      val a = find(src(i)); val b = find(dst(i))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      i += 1
    }
    Array.tabulate(idSpace)(find)
  }

  /** Symmetrised, de-duplicated neighbour lists. */
  private lazy val undirected: (Array[Int], Array[Int]) = {
    val (off, adj) = csr(src ++ dst, dst ++ src)
    val newOff = new Array[Int](idSpace + 1); val out = scala.collection.mutable.ArrayBuilder.make[Int]
    var v = 0
    while (v < idSpace) {
      val ns = java.util.Arrays.copyOfRange(adj, off(v), off(v + 1)).distinct.sorted
      ns.foreach(out += _)
      newOff(v + 1) = newOff(v) + ns.length
      v += 1
    }
    (newOff, out.result())
  }

  /** Synchronous label propagation over the undirected graph: each vertex
    * takes its neighbours' most frequent label, the smallest on a tie. */
  def labelPropagation(iterations: Int): Array[Int] = {
    val (off, adj) = undirected
    var label = Array.tabulate(idSpace)(identity)
    for (_ <- 0 until iterations) {
      val next = label.clone(); var v = 0
      while (v < idSpace) {
        val deg = off(v + 1) - off(v)
        if (deg > 0) {
          val ls = new Array[Int](deg); var k = 0
          while (k < deg) { ls(k) = label(adj(off(v) + k)); k += 1 }
          java.util.Arrays.sort(ls)
          var best = ls(0); var bestN = 0; var i = 0
          while (i < deg) {
            var j = i
            while (j < deg && ls(j) == ls(i)) j += 1
            if (j - i > bestN) { bestN = j - i; best = ls(i) }
            i = j
          }
          next(v) = best
        }
        v += 1
      }
      label = next
    }
    label
  }

  /** Triangles of the undirected simple graph, each counted once. */
  def triangles(): Long = {
    val (off, adj) = undirected
    def deg(v: Int) = off(v + 1) - off(v)
    def before(a: Int, b: Int) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val mark = new Array[Int](idSpace); java.util.Arrays.fill(mark, -1)
    var total = 0L; var u = 0
    while (u < idSpace) {
      var k = off(u)
      while (k < off(u + 1)) { if (before(u, adj(k))) mark(adj(k)) = u; k += 1 }
      k = off(u)
      while (k < off(u + 1)) {
        val v = adj(k)
        if (before(u, v)) {
          var j = off(v)
          while (j < off(v + 1)) { val w = adj(j); if (before(v, w) && mark(w) == u) total += 1; j += 1 }
        }
        k += 1
      }
      u += 1
    }
    total
  }
}
