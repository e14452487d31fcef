package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._

class BpeSpec extends TestBase {

  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("encodeWord semantics: hand-checked tokenizations via the kernel") {
    val d = docs(1L -> "the table data spark query window join hash",
      2L -> "batch stream order customer", 3L -> "a agg")
    val got = Bpe.encodeDocs(d).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // the=1 table=1 data=1 spark=1 query=1 window=1 join=1 hash=1
    assert(got(1L) == (8L, 8L))
    // batch=[b,at,c,h]=4  stream=[st,r,e,a,m]=5  order=[or,d,er]=3
    // customer=[c,u,st,o,m,er]=6
    assert(got(2L) == (4L, 18L))
    // a=1  agg=[a,g,g]=3
    assert(got(3L) == (2L, 4L))
  }

  test("kernel == codegen replace chain on the full sf0.001 corpus") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val kernel = Bpe.encodeDocs(d).select(col("doc_id"), col("bpe_tokens"))
    val chain = d.select(col("doc_id"), Bpe.tokenCount(col("text")).as("bpe_tokens"))
    assert(kernel.join(chain, Seq("doc_id", "bpe_tokens")).count() == d.count())
  }

  test("leftmost-first pairing: aaaa -> [aa, aa], aaa -> [aa, a]") {
    val merges = Seq("a" -> "a")
    val d = docs(1L -> "aaaa", 2L -> "aaa")
    val got = Bpe.encodeDocs(d, merges).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L))
    val chain = d.select(col("doc_id"), Bpe.tokenCount(col("text"), merges).as("t"))
      .as[(Long, Long)].collect().toMap
    assert(chain == Map(1L -> 2L, 2L -> 2L))
  }

  test("no cross-boundary or partial-token merges in the replace chain") {
    // (a,t) must not fire across "ta|a" or inside "ta"
    val merges = Seq("t" -> "a", "a" -> "t")
    val d = docs(1L -> "ta at", 2L -> "taat")
    val got = d.select(col("doc_id"), Bpe.tokenCount(col("text"), merges).as("t"))
      .as[(Long, Long)].collect().toMap
    // "ta"=[ta], "at"=[a,t]->? (a,t) rank2: "at"->[at]; so 1+1=2
    // "taat": t,a,a,t -> (t,a) leftmost: [ta,a,t] -> (a,t): [ta,at] = 2
    assert(got == Map(1L -> 2L, 2L -> 2L))
  }

  test("validateMerges rejects out-of-order operands and dup outputs") {
    intercept[IllegalArgumentException] {
      Bpe.validateMerges(Seq("th" -> "e")) // 'th' never produced
    }
    intercept[IllegalArgumentException] {
      Bpe.validateMerges(Seq("a" -> "b", "a" -> "b"))
    }
    intercept[IllegalArgumentException] {
      Bpe.validateMerges(Seq("a" -> "~"))
    }
  }

  test("loadMerges round-trips a merges.txt fixture") {
    val f = java.nio.file.Files.createTempFile("graft-merges", ".txt")
    java.nio.file.Files.writeString(f,
      "# fixture\nt h\nth e\n\n")
    val m = Bpe.loadMerges(spark, f.toString)
    assert(m == Seq("t" -> "h", "th" -> "e"))
    java.nio.file.Files.delete(f)
  }

  test("kernel fails fast on reserved separator in text") {
    val e = intercept[org.apache.spark.SparkException] {
      Bpe.encodeDocs(docs(1L -> "bad~text")).collect()
    }
    assert(e.getMessage != null)
  }

  test("newline-bearing text: kernel and replace chain agree (dotall render)") {
    // '(.)' without (?s) would skip the \n in the rendered paths while the
    // kernel counts it as a character token — the ADVICE r12 divergence.
    val d = docs(1L -> "a\nb", 2L -> "the\ntable")
    val kernel = Bpe.encodeDocs(d).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    val chain = d.select(col("doc_id"), Bpe.tokenCount(col("text")).as("t"))
      .as[(Long, Long)].collect().toMap
    assert(kernel == chain)
    assert(kernel(1L) == 3L) // [a, \n, b] — no merge touches \n
  }

  test("token ids: kernel == column path, round-trips, vocab-mapped on sf0.001") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val n = d.count()
    val k = Bpe.encodeDocsIds(d)
    // 1. detokenize round trip: concat(tokens) rebuilds the text verbatim
    assert(k.join(d, "doc_id")
      .where(concat_ws("", col("tokens")) === col("text")).count() == n)
    // 2. kernel tokens == codegen replace-chain tokens, token for token
    val chain = d.select(col("doc_id"), Bpe.tokensCol(col("text")).as("tokens"))
    assert(k.select(col("doc_id"), col("tokens"))
      .join(chain, Seq("doc_id", "tokens")).count() == n)
    // 3. ids are exactly the vocab positions of the tokens (no -1 on the
    //    in-contract corpus), and bpe_tokens excludes the space tokens
    val vb = Bpe.vocab().zipWithIndex.toMap
    val rows = k.select(col("doc_id"), col("tokens"), col("ids"), col("bpe_tokens"))
      .as[(Long, Seq[String], Seq[Int], Long)].collect()
    rows.foreach { case (_, toks, ids, nBpe) =>
      assert(ids == toks.map(vb))
      assert(nBpe == toks.count(_ != " "))
    }
    // 4. detokenize from IDS alone through the reverse vocab
    val rev = vb.map(_.swap)
    val texts = d.as[(Long, String)].collect().toMap
    rows.take(50).foreach { case (id, _, ids, _) =>
      assert(ids.map(rev).mkString == texts(id))
    }
  }

  test("50k-merge vocab: kernel agrees with sequential replace semantics") {
    // the production-scale list the Column path cannot follow (a 50k-deep
    // codegen chain); agreement is against the driver-side sequential
    // replay of encodeCol's contract (EXPLAIN.md "BPE kernel cost vs
    // merge-list size" records the same check over the full corpus
    // vocabulary plus a 2k distinct-word sample)
    val big = BpeSpec.syntheticMerges(50000)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(20)
    val texts = d.as[(Long, String)].collect().toMap
    val got = Bpe.encodeDocsIds(d, big)
      .select(col("doc_id"), col("tokens")).as[(Long, Seq[String])].collect()
    assert(got.nonEmpty)
    got.foreach { case (id, toks) =>
      val want = texts(id).split(" ", -1).toSeq
        .map(w => BpeSpec.encodeWordSequential(w, big))
        .reduce((a, b) => a ++ Seq(" ") ++ b)
      assert(toks == want, s"doc $id kernel/sequential disagree at 50k merges")
    }
  }

  test("learnMerges: hand-checkable ranks on a tiny corpus") {
    // 3x "the", 1x "then": pairs th=4 and he=4 TIE, en=1 — the
    // deterministic tie-break picks the lexicographically smaller pair
    // (h,e); then (t,he)=4 → "the"; then (the,n)=1
    val d = docs(1L -> "the the the then")
    val got = Bpe.learnMerges(d, n = 3, minCount = 1)
    assert(got == Seq("h" -> "e", "t" -> "he", "the" -> "n"), got.toString)
    // minCount 2 stops before the singleton pair
    assert(Bpe.learnMerges(d, n = 3, minCount = 2) ==
      Seq("h" -> "e", "t" -> "he"))
    // and the learned list drives the kernel: "the" is one token
    val enc = Bpe.encodeDocs(d, Bpe.learnMerges(d, n = 2, minCount = 1))
      .as[(Long, Long, Long)].head()
    assert(enc._3 == 5L) // the, the, the, the, n
  }

  test("learnFromWordCounts: incremental loop == naive recount on a stress vocab") {
    // a few hundred hash-derived words with heavy sharing + skewed counts
    // — exercises lazy pair-index invalidation, overlapping pairs (runs
    // of repeated chars), and tie-breaks
    val wc = (0 until 300).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"w$i".getBytes("UTF-8")).map(b => ((b & 0x7f) % 26 + 'a').toChar)
      (new String(h.take(3 + i % 8)) + ("ab" * (i % 3)), (i % 17 + 1).toLong)
    }.distinct
    def naive(words0: Seq[(String, Long)], n: Int, minCount: Long) = {
      var words = words0.map { case (w, c) => (w.map(_.toString).toVector, c) }
      val out = Seq.newBuilder[(String, String)]
      var stop = false
      for (_ <- 0 until n if !stop) {
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        words.foreach { case (t, c) =>
          t.zip(t.drop(1)).foreach(p => counts(p) = counts.getOrElse(p, 0L) + c) }
        val cand = counts.toSeq.sortBy { case ((x, y), c) => (-c, x, y) }
        if (cand.isEmpty || cand.head._2 < minCount) stop = true
        else {
          val (x, y) = cand.head._1
          out += (x -> y)
          words = words.map { case (t, c) =>
            val b = Vector.newBuilder[String]
            var j = 0
            while (j < t.length) {
              if (j < t.length - 1 && t(j) == x && t(j + 1) == y) { b += x + y; j += 2 }
              else { b += t(j); j += 1 }
            }
            (b.result(), c)
          }
        }
      }
      out.result()
    }
    assert(Bpe.learnFromWordCounts(wc, 60, 2) == naive(wc, 60, 2))
    assert(Bpe.learnFromWordCounts(wc, 500, 3) == naive(wc, 500, 3))
  }

  test("empty and degenerate words") {
    // double space -> empty word (0 tokens); trailing space -> empty word
    val d = docs(1L -> "a  b ", 2L -> "")
    val got = Bpe.encodeDocs(d).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == (4L, 2L))
    assert(got(2L) == (1L, 0L))
    val chain = d.select(col("doc_id"), Bpe.tokenCount(col("text")).as("t"))
      .as[(Long, Long)].collect().toMap
    assert(chain == Map(1L -> 2L, 2L -> 0L))
  }

  test("pre-tokenizer: letter/digit/punctuation runs, whitespace never a token") {
    val d = docs(1L -> "end.of,sentence 42x7 (a1)", 2L -> "数据引擎42!")
    val got = d.select(col("doc_id"), Bpe.preTokens(col("text")).as("p"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq("end", ".", "of", ",", "sentence", "42", "x", "7",
      "(", "a", "1", ")"))
    // CJK chars are \p{L}: one letter run, then the digit run, then '!'
    assert(got(2L) == Seq("数据引擎", "42", "!"))
  }

  test("pre-tokenizer: \\x0B is whitespace (explicit class, not \\s)") {
    // Java's \s includes \x0B but RE2's does not — PretokRegex spells the
    // whitespace class out so both engines treat \x0B as a separator.
    // Pinned here: \x0B separates runs and never joins a punctuation run.
    val d = docs(1L -> "ab\u000Bcd", 2L -> "x.\u000B.y", 3L -> "\u000B")
    val got = d.select(col("doc_id"), Bpe.preTokens(col("text")).as("p"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq("ab", "cd"))
    assert(got(2L) == Seq("x", ".", ".", "y"))
    assert(got(3L) == Seq.empty[String])
  }

  test("no-space text stops degrading: pretok bounds merge-loop inputs at runs") {
    // under split(" ") this doc is ONE giant word; pre-tokenized it is
    // letter runs split at punctuation — the production contract
    val noSpace = "nospacetexthere...nospacetexthere!!!42"
    val d = docs(1L -> noSpace)
    val pre = d.select(explode(Bpe.preTokens(col("text"))).as("w"))
      .as[String].collect().toSeq
    assert(pre == Seq("nospacetexthere", "...", "nospacetexthere", "!!!", "42"))
    val spaceSplit = Bpe.wordCounts(d).as[(String, Long)].collect()
    assert(spaceSplit.length == 1 && spaceSplit.head._1 == noSpace)
    val pretokWc = Bpe.wordCounts(d, pretok = true).as[(String, Long)].collect().toMap
    assert(pretokWc("nospacetexthere") == 2L && pretokWc("...") == 1L)
  }

  test("pretok learning: deterministic argmax over shared pretoken statistics") {
    // space-split would see 'word,' / 'word.' as distinct words and split
    // their statistics; pretok pools all three 'word's. Counts tie at 3 →
    // lexicographic (x, y) tie-break: (o,r) then (or,d) then (w,ord).
    val d = docs(1L -> "word, word, word.")
    val merges = Bpe.learnMerges(d, n = 3, minCount = 1, pretok = true)
    assert(merges == Seq("o" -> "r", "or" -> "d", "w" -> "ord"))
    val enc = Bpe.encodeDocsPretok(d, merges).as[(Long, Long, Long)].collect().head
    // pretokens: word , word , word .  → 6; bpe: 3×[word] + 2×[,] + [.] = 6
    assert(enc == ((1L, 6L, 6L)))
  }

  test("pretok kernel == column path (explode preTokens + tokensCol) incl CJK") {
    val d = docs(1L -> "end.of,sentence 42x7 (a1)", 2L -> "数据处理,数据处理.",
      3L -> "the table data spark", 4L -> "nospacetexthere...nospacetexthere!!!42")
    val merges = Bpe.learnMerges(d, n = 6, minCount = 1, pretok = true)
    val kernel = Bpe.encodeDocsPretok(d, merges)
      .select(col("doc_id"), col("n_pretok"), col("bpe_tokens"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val colSide = d.select(col("doc_id"), explode(Bpe.preTokens(col("text"))).as("w"))
      .select(col("doc_id"), size(Bpe.tokensCol(col("w"), merges)).cast("long").as("t"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pretok"), sum(col("t")).as("bpe_tokens"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(kernel == colSide)
  }
}

/** Spec-side references for the BPE kernel at production vocabulary size. */
object BpeSpec {
  import graft.operators.Bpe.Sep

  /** A production-SCALE synthetic merge list (e.g. 50k entries, the GPT-2
    * vocabulary's order of magnitude), `Bpe.validateMerges`-conformant BY
    * CONSTRUCTION: level k extends each level-(k−1) output by one
    * alphabet char, in deterministic lexicographic order — every operand
    * is a single char or a strictly earlier output, and outputs are
    * distinct (each generated string appears exactly once, and levels
    * have distinct lengths). NOT a learned vocabulary: it exists to
    * test the kernel against merge-list SIZE, where only the list's
    * scale and validity matter, not its linguistics (EXPLAIN.md
    * "BPE kernel cost vs merge-list size"). */
  def syntheticMerges(n: Int): Seq[(String, String)] = {
    require(n > 0, s"need a positive merge count, got $n")
    val az = ('a' to 'z').map(_.toString)
    val out = Seq.newBuilder[(String, String)]
    var level: Seq[String] = az
    var total = 0
    while (total < n) {
      val next = Seq.newBuilder[String]
      val it = level.iterator
      while (it.hasNext && total < n) {
        val p = it.next()
        val cit = az.iterator
        while (cit.hasNext && total < n) {
          val c = cit.next()
          out += (p -> c)
          next += p + c
          total += 1
        }
      }
      level = next.result()
    }
    out.result()
  }

  /** The SEQUENTIAL rank-order replace-chain semantics of `Bpe.encodeCol`
    * replayed in plain driver-side Scala, one word at a time — usable at
    * vocabulary sizes where a 50k-deep codegen'd replace chain is not. */
  def encodeWordSequential(w: String,
      merges: Seq[(String, String)]): Seq[String] = {
    if (w.isEmpty) return Seq.empty
    val rendered = w.map(c => s"$Sep$c$Sep").mkString
    val enc = merges.foldLeft(rendered) { case (e, (x, y)) =>
      e.replace(s"$Sep$x$Sep$Sep$y$Sep", s"$Sep$x$y$Sep")
    }
    enc.stripPrefix(Sep).stripSuffix(Sep).split(s"$Sep$Sep").toSeq
  }
}
