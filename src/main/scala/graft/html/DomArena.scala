package graft.html

/** Array-backed immutable DOM arena (north_star: "lightweight immutable DOM,
  * array-backed node arena, parent/child index vectors").
  *
  * One growable set of parallel primitive arrays; no per-node objects.
  * Node kinds: element (tag ≥ 0) or text (tag == TextKind, payload in
  * `texts`). Built once by [[HtmlTokenizer]], then read-only.
  */
final class DomArena(
    val size: Int,
    val tag: Array[Int],          // tag id, or TextKind for text nodes
    val parent: Array[Int],       // -1 for root
    val firstChild: Array[Int],   // -1 when none
    val nextSibling: Array[Int],  // -1 when none
    val textIdx: Array[Int],      // index into texts, -1 for elements
    val texts: Array[String]      // decoded text-node payloads
) {
  @inline def text(i: Int): String = texts(textIdx(i))
}

object DomArena {
  val TextKind: Int = -2
  val NoNode: Int = -1

  final class Builder(initialCapacity: Int = 256) {
    private var cap = math.max(16, initialCapacity)
    private var n = 0
    private var tagA = new Array[Int](cap)
    private var parentA = new Array[Int](cap)
    private var firstChildA = new Array[Int](cap)
    private var lastChildA = new Array[Int](cap)
    private var nextSiblingA = new Array[Int](cap)
    private var textIdxA = new Array[Int](cap)
    private val textsB = scala.collection.mutable.ArrayBuffer.empty[String]

    /** Reuse across documents (per-thread scratch): keeps the grown
      * capacity, drops the contents. `result()` copies exact-size arrays,
      * so escaped arenas never alias builder state. */
    def reset(): Unit = {
      n = 0
      textsB.clear()
    }

    private def grow(): Unit = {
      cap *= 2
      tagA = java.util.Arrays.copyOf(tagA, cap)
      parentA = java.util.Arrays.copyOf(parentA, cap)
      firstChildA = java.util.Arrays.copyOf(firstChildA, cap)
      lastChildA = java.util.Arrays.copyOf(lastChildA, cap)
      nextSiblingA = java.util.Arrays.copyOf(nextSiblingA, cap)
      textIdxA = java.util.Arrays.copyOf(textIdxA, cap)
    }

    private def addNode(tagId: Int, parent: Int, textIdx: Int): Int = {
      if (n == cap) grow()
      val i = n
      tagA(i) = tagId
      parentA(i) = parent
      firstChildA(i) = NoNode
      lastChildA(i) = NoNode
      nextSiblingA(i) = NoNode
      textIdxA(i) = textIdx
      if (parent >= 0) {
        if (firstChildA(parent) == NoNode) firstChildA(parent) = i
        else nextSiblingA(lastChildA(parent)) = i
        lastChildA(parent) = i
      }
      n += 1
      i
    }

    def addElement(tagId: Int, parent: Int): Int = addNode(tagId, parent, -1)

    def addText(parent: Int, text: String): Int = {
      textsB += text
      addNode(TextKind, parent, textsB.length - 1)
    }

    def nodeCount: Int = n

    def result(): DomArena = new DomArena(
      n,
      java.util.Arrays.copyOf(tagA, n),
      java.util.Arrays.copyOf(parentA, n),
      java.util.Arrays.copyOf(firstChildA, n),
      java.util.Arrays.copyOf(nextSiblingA, n),
      java.util.Arrays.copyOf(textIdxA, n),
      textsB.toArray)
  }
}
