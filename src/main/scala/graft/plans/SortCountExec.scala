package graft.plans

import java.nio.ByteOrder
import java.util.Arrays

import org.apache.spark.TaskContext
import org.apache.spark.memory.{MemoryConsumer, MemoryMode, SparkOutOfMemoryError}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The reference's map side (SURVEY.md §3.1 step 4): sort the map output,
  * then run the combiner over each sorted run. Copies each row's `key`
  * into a [[KeyArena]], sorts it and emits one `(key, count)` row per
  * run of equal keys, `count` a non-null long.
  *
  * The arena's memory is charged to the task's memory manager. When a
  * grant is refused, or the arena reaches [[SortCountExec.runBytes]], the
  * operator sorts, emits and frees what it holds, then reads on. Each run
  * is sorted, the partition as a whole is not, so the operator declares
  * no output ordering and a key may leave a task in more than one row. */
case class SortCountExec(key: Attribute, count: Attribute, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = Seq(key, count)

  override protected def doExecute(): RDD[InternalRow] = {
    val k = child.output.indexWhere(_.exprId == key.exprId)
    val cap = SortCountExec.runBytes
    child.execute().mapPartitions { rows =>
      val task = TaskContext.get()
      val memory = new MemoryConsumer(GraftBridge.taskMemoryManager(task), MemoryMode.ON_HEAP) {
        override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
      }
      val arena = new KeyArena(cap, { bytes =>
        val got = memory.acquireMemory(bytes)
        if (got < bytes) memory.freeMemory(got)
        got == bytes
      })
      def free(): Unit = { memory.freeMemory(arena.heldBytes); arena.clear() }
      task.addTaskCompletionListener[Unit](_ => free())
      SortCountExec.counts(rows.map(_.getUTF8String(k)), arena, () => free())
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SortCountExec = copy(child = newChild)
}

object SortCountExec {
  /** Arena bytes at which a run ends if no grant was refused first. Not
    * measured: a map task of the benchmark corpus holds a few MB of keys.
    * Tests lower it to force many runs per task. */
  @volatile private[graft] var runBytes: Long = 256L << 20

  /** One task's output: `keys` added to `arena` until it refuses one, then
    * that run sorted and emitted as `(key, count)` rows, `release` called
    * to empty the arena, and the refused key carried into the next run.
    * An empty arena that refuses a key, fresh or carried, cannot make room
    * by ending a run, so the task fails rather than drop the key. */
  private[graft] def counts(keys: Iterator[UTF8String], arena: KeyArena, release: () => Unit): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val writer = new UnsafeRowWriter(2)
      private var refused: UTF8String = null // the key the last run had no room for
      private var ready = false

      private def add(s: UTF8String): Unit = if (!arena.add(s)) {
        if (arena.size == 0) throw new SparkOutOfMemoryError("UNABLE_TO_ACQUIRE_MEMORY",
          java.util.Map.of("requestedBytes", s.numBytes.toString, "receivedBytes", "0"))
        refused = s.clone()
      }

      private def fill(): Unit = {
        if (refused != null) { val s = refused; refused = null; add(s) }
        while (refused == null && keys.hasNext) add(keys.next())
        arena.sort()
      }

      override def hasNext: Boolean = ready || {
        ready = arena.nextRun() || {
          release()
          (refused != null || keys.hasNext) && { fill(); arena.nextRun() }
        }
        ready
      }

      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        ready = false
        writer.reset()
        writer.write(0, arena.runKey)
        writer.write(1, arena.runCount)
        writer.getRow
      }
    }
}

/** Byte strings in one heap arena, sorted in place into the order of
  * `UTF8String.binaryCompare` (unsigned bytes; a prefix sorts before any
  * longer key) by 3-way radix quicksort on cached 8-byte big-endian
  * words (Bentley & Sedgewick, "Fast algorithms for sorting and searching
  * strings", SODA 1997). Keys sharing the word at one depth are re-keyed
  * one word deeper, so a comparison reads a whole word, not a byte, and
  * a shared 8-byte prefix costs one re-keying pass, not a tie break per
  * comparison.
  *
  * `grant(bytes)` is asked before the arena grows by `bytes`; a refusal,
  * or growth past `capBytes`, makes [[add]] return false. An empty arena
  * ignores the cap, so every key fits in some run. */
final class KeyArena(capBytes: Long, grant: Long => Boolean) {
  private var bytes = Array.emptyByteArray
  private var used = 0
  private var refs = Array.emptyLongArray // offset << 32 | length
  private var words = Array.emptyLongArray // the word at the sort's current depth, sign bit flipped
  private var n = 0

  def size: Int = n

  /** Heap bytes the arena's arrays hold, as charged to `grant`. */
  def heldBytes: Long = bytes.length + 16L * refs.length

  /** Appends a copy of `key`; false, and nothing appended, without room. */
  def add(key: UTF8String): Boolean = {
    val len = key.numBytes
    if (used + len > bytes.length) {
      val want = math.max(used.toLong + len, 2L * math.max(bytes.length, 2048))
      if (want > Int.MaxValue - 16 || !room(want - bytes.length)) return false
      bytes = Arrays.copyOf(bytes, want.toInt)
    }
    if (n == refs.length) {
      val want = 2 * math.max(n, 128)
      if (!room(16L * (want - n))) return false
      refs = Arrays.copyOf(refs, want)
      words = Arrays.copyOf(words, want)
    }
    key.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + used)
    refs(n) = used.toLong << 32 | len
    used += len
    n += 1
    true
  }

  private def room(more: Long): Boolean = (n == 0 || heldBytes + more <= capBytes) && grant(more)

  /** Drops every key and the arrays that held them. */
  def clear(): Unit = {
    bytes = Array.emptyByteArray; refs = Array.emptyLongArray; words = Array.emptyLongArray
    used = 0; n = 0; runStart = 0; runEnd = 0
  }

  def sort(): Unit = {
    var i = 0
    while (i < n) { words(i) = word(refs(i), 0); i += 1 }
    sort(0, n, 0)
  }

  private var runStart = 0
  private var runEnd = 0

  /** After [[sort]]: steps to the next run of equal keys, in order; false
    * past the last. [[runKey]] and [[runCount]] describe the run. */
  def nextRun(): Boolean = {
    runStart = runEnd
    runStart < n && {
      val off = offset(refs(runStart))
      val len = length(refs(runStart))
      runEnd = runStart + 1
      while (runEnd < n && length(refs(runEnd)) == len &&
        Arrays.equals(bytes, offset(refs(runEnd)), offset(refs(runEnd)) + len, bytes, off, off + len)) runEnd += 1
      true
    }
  }

  /** The run's key, a view into the arena until [[clear]]. */
  def runKey: UTF8String = UTF8String.fromBytes(bytes, offset(refs(runStart)), length(refs(runStart)))

  def runCount: Long = runEnd - runStart

  private def offset(r: Long): Int = (r >>> 32).toInt
  private def length(r: Long): Int = r.toInt

  /** Bytes `depth` until `depth + 8` of key `r`, zero-padded past its end,
    * as a big-endian long with the sign bit flipped, so that signed order
    * is unsigned byte order. */
  private def word(r: Long, depth: Int): Long = {
    val at = offset(r) + depth
    val rem = length(r) - depth
    val w = if (rem >= 8) {
      val raw = Platform.getLong(bytes, Platform.BYTE_ARRAY_OFFSET + at)
      if (KeyArena.littleEndian) java.lang.Long.reverseBytes(raw) else raw
    } else if (rem <= 0) 0L
    else {
      var w = 0L
      var i = 0
      while (i < rem) { w = w << 8 | (bytes(at + i) & 0xff); i += 1 }
      w << (8 * (8 - rem))
    }
    w ^ Long.MinValue
  }

  private def swap(i: Int, j: Int): Unit = {
    val w = words(i); words(i) = words(j); words(j) = w
    val r = refs(i); refs(i) = refs(j); refs(j) = r
  }

  /** Sorts `[lo, hi)`, whose keys share their first `depth` bytes and whose
    * words are cached at `depth`. Recurses into the two smaller of the
    * three partitions and loops on the largest, so the stack stays within
    * log2(n) frames. */
  private def sort(lo0: Int, hi0: Int, depth0: Int): Unit = {
    var lo = lo0
    var hi = hi0
    var depth = depth0
    while (hi - lo > 1) {
      if (hi - lo <= 12) { insertionSort(lo, hi, depth); return }
      val v = median(words(lo), words((lo + hi) >>> 1), words(hi - 1))
      // two Lomuto passes, keys below v to the front, then keys equal to v
      // after them; each swaps unconditionally and advances its cursor by
      // the comparison, so no branch depends on the data
      var lt = lo
      var i = lo
      while (i < hi) {
        val w = words(i)
        swap(lt, i)
        lt += (if (w < v) 1 else 0)
        i += 1
      }
      var gt = lt
      i = lt
      while (i < hi) {
        val w = words(i)
        swap(gt, i)
        gt += (if (w == v) 1 else 0)
        i += 1
      }
      // [lt, gt) share this word: keys that end within it go first, by
      // length, as each is a prefix of the longer ones; the rest go deeper
      val deeper = endedFirst(lt, gt, depth)
      i = deeper
      while (i < gt) { words(i) = word(refs(i), depth + 8); i += 1 }
      val below = lt - lo
      val equal = gt - deeper
      val above = hi - gt
      if (below >= equal && below >= above) {
        sort(deeper, gt, depth + 8); sort(gt, hi, depth); hi = lt
      } else if (equal >= above) {
        sort(lo, lt, depth); sort(gt, hi, depth); lo = deeper; hi = gt; depth += 8
      } else {
        sort(lo, lt, depth); sort(deeper, gt, depth + 8); lo = gt
      }
    }
  }

  private def median(a: Long, b: Long, c: Long): Long =
    if (a < b) { if (b < c) b else if (a < c) c else a }
    else { if (a < c) a else if (b < c) c else b }

  /** Moves the keys of `[lo, hi)` no longer than `depth + 8` to its front,
    * shortest first; returns where the longer keys start. */
  private def endedFirst(lo: Int, hi: Int, depth: Int): Int = {
    var end = lo
    var shortest = Int.MaxValue
    var longest = -1
    var i = lo
    while (i < hi) {
      val len = length(refs(i))
      if (len <= depth + 8) {
        swap(end, i); end += 1
        shortest = math.min(shortest, len); longest = math.max(longest, len)
      }
      i += 1
    }
    var next = lo
    var len = shortest
    while (len < longest) {
      i = next
      while (i < end) {
        if (length(refs(i)) == len) { swap(next, i); next += 1 }
        i += 1
      }
      len += 1
    }
    end
  }

  private def insertionSort(lo: Int, hi: Int, depth: Int): Unit = {
    var i = lo + 1
    while (i < hi) {
      val w = words(i)
      val r = refs(i)
      var j = i
      while (j > lo && compare(words(j - 1), refs(j - 1), w, r, depth) > 0) {
        words(j) = words(j - 1); refs(j) = refs(j - 1); j -= 1
      }
      words(j) = w; refs(j) = r
      i += 1
    }
  }

  private def compare(wa: Long, a: Long, wb: Long, b: Long, depth: Int): Int =
    if (wa != wb) java.lang.Long.compare(wa, wb)
    else Arrays.compareUnsigned(bytes, offset(a) + depth, offset(a) + length(a),
      bytes, offset(b) + depth, offset(b) + length(b))
}

private object KeyArena {
  val littleEndian: Boolean = ByteOrder.nativeOrder == ByteOrder.LITTLE_ENDIAN
}
