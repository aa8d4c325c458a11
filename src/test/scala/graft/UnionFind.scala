package graft

import scala.collection.mutable

/** Plain-Scala connected components, the reference the Spark components
  * operator is checked against: every vertex of `pairs` (self-pairs
  * included) labelled with the minimum id of its component. */
object UnionFind {
  def labels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(v: Long): Long = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v
      else { val r = find(p); parent(v) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }
}
