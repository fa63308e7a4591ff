package graft.operators

import scala.collection.mutable

/** Driver-side BPE merge learning over the distributed-counted,
  * VOCABULARY-grain word-frequency table.
  *
  * Why this exists next to the per-step Spark loop
  * (SparkEntry.bpeMerges): BPE training splits into a corpus-grain
  * half (count words — one distributed aggregate, stays in Spark at
  * any scale) and a vocabulary-grain half (learn merges — the word
  * table is bounded by |vocab|, not corpus size, and sits on the
  * driver by construction once any per-rule collect happens). The
  * Spark loop executes ONE FULL JOB + localCheckpoint PER MERGE —
  * fixture-faithful for the q146 gate at nMerges=5, but a production
  * tokenizer wants 30k merges: 30k sequential scheduler round-trips
  * over a table that fits in memory is the wrong execution by four
  * orders of magnitude (measured in PLANS.md "BPE at production
  * vocabulary sizes"). This trainer runs the same merge semantics
  * in memory, INCREMENTALLY: pair
  * counts and a pair→words index are maintained across steps, so a
  * merge touches only the words that contain the merged pair — the
  * standard in-memory BPE trainer shape (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units").
  *
  * Semantics are EXACTLY the Spark loop's (parity spec-asserted at
  * nMerges=5 in CorpusStatsSpec, and transitively oracle-gated
  * through q146):
  *  - words arrive in the bracket-string representation
  *    ("low" → "<l><o><w>"), pairs are adjacent-symbol concats
  *    counted WITH positional multiplicity ("<a><a><a>" contributes
  *    "<a><a>" twice), freq-weighted;
  *  - rule selection is (count DESC, pair ASC) where pair order is
  *    UTF-8 BYTE order — Spark compares UTF8String bytes, and a
  *    JVM-String compareTo diverges from it above the BMP, so the
  *    comparator here works on the encoded bytes;
  *  - the merge applies LEFT-TO-RIGHT NON-OVERLAPPING, matching
  *    `replace(str, pair, merged)` on the concatenated string
  *    (bracket atoms guarantee every string match aligns to a symbol
  *    boundary — symbol bodies cannot contain '<' or '>').
  */
object Bpe {

  /** UTF-8 byte order on strings == Spark's UTF8String binary
    * comparison (unsigned bytes, then length). */
  private[graft] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Split a bracket-string into its symbol atoms:
    * "<l><o><w>" → ["<l>", "<o>", "<w>"]. */
  private def symbols(str: String): Array[String] =
    str.split("(?<=>)(?=<)")

  /** Left-to-right non-overlapping merge of `pair` (two adjacent
    * symbols) inside a symbol sequence — the array form of
    * `replace(str, pair, merged)`. */
  private def applyMerge(syms: Array[String], first: String,
      second: String, merged: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == first && syms(i + 1) == second) {
        out += merged
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toArray
  }

  /** Learn `nMerges` rules from `(bracketWord, freq)` rows. Output
    * rows are (step, pair, merged, weighted pair count) — identical
    * to the Spark loop's emission. Throws (like the Spark loop) when
    * the vocabulary runs out of pairs before `nMerges`. */
  def train(words: Seq[(String, Long)], nMerges: Int)
      : Seq[(Int, String, String, Long)] = {
    require(nMerges >= 1, s"nMerges must be >= 1: $nMerges")
    val syms: Array[Array[String]] = words.map(w => symbols(w._1)).toArray
    val freq: Array[Long] = words.map(_._2).toArray
    val pairCounts = mutable.HashMap.empty[String, Long]
    // pair -> word ids that contained the pair when last indexed;
    // entries can go stale after merges rewrite a word — consumers
    // re-check against the word's CURRENT symbols, so stale ids cost
    // a scan, never correctness
    val pairWords = mutable.HashMap.empty[String, mutable.BitSet]
    // LAZY max-heap over (count desc, pair utf8 asc): every count
    // update pushes a fresh entry; selection pops until the head
    // matches the live count (stale entries discard in O(log n)).
    // A full pairCounts rescan per merge is O(|pairs|) — fine on toy
    // vocabularies, hours at the 10M-word scale bpeMaxVocab admits;
    // the heap keeps per-merge selection near O(log n) amortized.
    val heap = new java.util.PriorityQueue[(String, Long)](
      64,
      new java.util.Comparator[(String, Long)] {
        def compare(a: (String, Long), b: (String, Long)): Int =
          if (a._2 != b._2) java.lang.Long.compare(b._2, a._2)
          else if (a._1 == b._1) 0
          else if (utf8Lt(a._1, b._1)) -1
          else 1
      })
    def addWord(w: Int, sign: Long): Unit = {
      val s = syms(w)
      var i = 0
      while (i < s.length - 1) {
        val p = s(i) + s(i + 1)
        val c = pairCounts.getOrElse(p, 0L) + sign * freq(w)
        if (c == 0L) pairCounts.remove(p)
        else {
          pairCounts.update(p, c)
          heap.add((p, c))
        }
        if (sign > 0)
          pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += w
        i += 1
      }
    }
    syms.indices.foreach(addWord(_, 1L))
    val rules = Seq.newBuilder[(Int, String, String, Long)]
    (1 to nMerges).foreach { step =>
      require(pairCounts.nonEmpty,
        s"BPE: no pairs left before merge $step — lower nMerges")
      var head = heap.poll()
      while (head != null &&
          !pairCounts.get(head._1).contains(head._2))
        head = heap.poll() // stale: count changed since this push
      require(head != null,
        s"BPE: heap drained before merge $step (invariant breach)")
      val (bestP, bestC) = head
      val merged = bestP.replace("><", "")
      rules += ((step, bestP, merged, bestC))
      // bestP = first + second: the split point is the one "><"
      // boundary whose left side is itself a well-formed atom — i.e.
      // the first top-level '>' (symbol bodies cannot contain > )
      val cut = bestP.indexOf('>') + 1
      val (first, second) = (bestP.substring(0, cut), bestP.substring(cut))
      val touched = pairWords.remove(bestP).getOrElse(mutable.BitSet.empty)
      touched.foreach { w =>
        val s = syms(w)
        // stale-entry check: does the word STILL contain the pair?
        var contains = false
        var i = 0
        while (!contains && i < s.length - 1) {
          contains = s(i) == first && s(i + 1) == second
          i += 1
        }
        if (contains) {
          addWord(w, -1L)
          syms(w) = applyMerge(s, first, second, merged)
          addWord(w, 1L)
        }
      }
    }
    rules.result()
  }
}
