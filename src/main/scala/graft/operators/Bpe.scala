package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenization: TOKEN-ACCURATE counting for batch
  * construction — the counting every training dataloader actually budgets
  * on (Sennrich, Haddow & Birch, ACL 2016; the GPT-2 tokenizer applies the
  * same learned merge list). Whitespace counts ([[TextAnalysis.tokenCounts]])
  * misestimate real token budgets 2–4× on CJK/code; sequence packing
  * (`txt_pack`, `pipe_packed_batches`) budgets BPE tokens here instead.
  * No reference precedent (`Preprocessing/src/main/java` has no text
  * surface) — LLM-pipeline surface next to SURVEY §2's text operators.
  *
  * Two interchangeable evaluation paths over ONE merge list:
  *
  *  - [[tokenCount]] — a pure codegen'd Column: render each char as
  *    `~c~`, fold the merge list as literal `replace` calls (each merge
  *    `(x, y) → xy` is `replace(s, "~x~~y~", "~xy~")`), then count
  *    separator pairs. Left-to-right non-overlapping `replace` IS the
  *    leftmost-first merge application BPE specifies. Stays inside
  *    whole-stage codegen; cost O(len × |merges|) per row — right for
  *    fixture-sized merge lists and for the DuckDB oracle, which replays
  *    the identical chain (generated from the same Scala list, so the two
  *    engines cannot drift).
  *  - [[encodeDocs]] — the production kernel: mapPartitions, merge-rank
  *    hash map + per-partition word memo, the standard iterate-lowest-rank
  *    loop. Cost O(len × rounds) independent of merge-list SIZE — the
  *    path a real 50k-merge vocabulary takes at 100 TB (the merge list is
  *    metadata-scale: closure-shipped here, `spark.sparkContext.broadcast`
  *    for vocabularies big enough to matter). BpeSpec asserts the two
  *    paths agree word-for-word on the corpus.
  *
  * Equivalence contract (why one merge list serves both): applying merges
  * SEQUENTIALLY in rank order equals the iterate-lowest-rank-present loop
  * when (a) every merge's operands are single characters or outputs of
  * strictly EARLIER merges, and (b) outputs are distinct. Then applying
  * merge r can never create an occurrence of any merge q < r (q's operand
  * would have to contain r's output, which did not exist when q was
  * learned), so the sequential pass visits pairs in exactly the order the
  * priority loop would. [[validateMerges]] enforces (a) and (b) on every
  * list this object accepts — a learned BPE merge list satisfies both by
  * construction.
  *
  * Separator: tokens are rendered `~token~` (boundary = `~~`), so a merge
  * pattern `~x~~y~` matches exactly a complete-token adjacency — x and y
  * each carry their OWN separator pair, which kills both classic
  * string-replace traps: no boundary sharing (so `[a,a,a,a]` merges to
  * `[aa,aa]`, not `[aa,a,a]`) and no partial-token matches (`~a~~t~`
  * cannot fire inside `~ta~`). `~` must not occur in the text (the
  * synthetic corpus is `[a-z ]`; the kernel fail-fasts on violation).
  */
object Bpe {

  /** Rendered-token separator. Must be absent from tokenized text. */
  val Sep = "~"

  /** The fixture merge list (rank order), hand-learned over the synthetic
    * corpus vocabulary the way subword-nmt would learn it: frequent words
    * (`the`, `table`, `data`, `spark`, `query`, `window`, `join`, `hash`,
    * `row`) compress to one token; rarer words stay multi-token. Satisfies
    * [[validateMerges]]'s invariants by construction. */
  val fixtureMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e",              // the
    "i" -> "n", "e" -> "r", "o" -> "w", "a" -> "t",
    "s" -> "t", "a" -> "r", "o" -> "r",
    "r" -> "ow",                          // row
    "t" -> "a", "b" -> "l", "ta" -> "bl", "tabl" -> "e", // table
    "d" -> "at", "dat" -> "a",            // data
    "s" -> "p", "sp" -> "ar", "spar" -> "k", // spark
    "q" -> "u", "qu" -> "er", "quer" -> "y", // query
    "w" -> "in", "win" -> "d", "wind" -> "ow", // window
    "j" -> "o", "jo" -> "in",             // join
    "h" -> "a", "ha" -> "s", "has" -> "h") // hash

  /** Enforce the sequential≡priority invariants (scaladoc above): every
    * operand is a single char or an earlier output; outputs are distinct
    * (and never single chars); no operand or output contains [[Sep]] or
    * whitespace. */
  def validateMerges(merges: Seq[(String, String)]): Unit = {
    require(merges.nonEmpty, "empty merge list")
    val seen = scala.collection.mutable.Set[String]()
    merges.zipWithIndex.foreach { case ((x, y), i) =>
      Seq(x, y).foreach { op =>
        require(op.nonEmpty && !op.contains(Sep) && !op.exists(_.isWhitespace),
          s"merge $i operand '$op' is empty or contains '$Sep'/whitespace")
        require(op.length == 1 || seen(op),
          s"merge $i operand '$op' is neither a single char nor an earlier output")
      }
      val out = x + y
      require(!seen(out), s"merge $i output '$out' duplicates an earlier output")
      seen += out
    }
  }
  validateMerges(fixtureMerges)

  /** Load a merge list from a text file of `x y` lines (the subword-nmt /
    * GPT-2 `merges.txt` shape; `#`-prefixed lines and blanks skipped) —
    * metadata-scale, read once on the driver like every other
    * metadata artifact (centroid/codebook precedent).
    *
    * Read through the Hadoop FileSystem API, NOT `spark.read.textFile(...)
    * .collect()`: rank order is load-bearing for BPE correctness and a
    * distributed text scan does not guarantee line order across splits or
    * files. Here order is pinned explicitly — files in name order
    * (matching a multi-part writer's part numbering), each file's lines in
    * byte order. `path` must be a literal file or a FLAT directory: glob
    * patterns are not accepted (no single defensible order exists across
    * glob expansion), and a directory containing sub-directories fails
    * loudly rather than silently skipping them — a nested layout losing
    * merge lines would change tokenization with no error at all. */
  def loadMerges(spark: SparkSession, path: String): Seq[(String, String)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (fs.getFileStatus(root).isDirectory) {
        val entries = fs.listStatus(root).toSeq
          .filterNot(s => s.getPath.getName.startsWith("_") ||
            s.getPath.getName.startsWith("."))
        val dirs = entries.filter(_.isDirectory).map(_.getPath.getName)
        require(dirs.isEmpty,
          s"merge-list directory $path contains sub-directories " +
            s"${dirs.mkString(", ")} — nested layouts are not accepted " +
            "(their line order is ambiguous and skipping them would " +
            "silently truncate the merge list); flatten to one level first")
        entries.filter(_.isFile).map(_.getPath).sortBy(_.getName)
      } else Seq(root)
    val lines = files.flatMap { f =>
      val in = fs.open(f)
      try new String(in.readAllBytes(), "UTF-8").split("\n", -1).toSeq
      finally in.close()
    }
    val merges = lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val parts = l.split("\\s+")
        require(parts.length == 2, s"merge line '$l' is not 'x y'")
        (parts(0), parts(1))
      }
    validateMerges(merges)
    merges
  }

  /** `text` rendered one `~c~` per character (codegen'd regexp). `(?s)`:
    * dotall is off by default in both engines, so a bare `(.)` would skip
    * newline characters — the rendered paths would silently count fewer
    * tokens than the kernel (which counts every character of a word) on
    * any text containing `\n`/`\r`. */
  private def render(text: Column): Column =
    regexp_replace(text, "(?s)(.)", s"$Sep$$1$Sep")

  /** The rendered text after the full merge chain — each merge one
    * codegen'd literal `replace`. Runs over the WHOLE text in one pass:
    * the space character is itself a rendered token (`~ ~`) no merge
    * touches, so merges can never fire across a word boundary. */
  def encodeCol(text: Column, merges: Seq[(String, String)] = fixtureMerges): Column = {
    validateMerges(merges)
    merges.foldLeft(render(text)) { case (c, (x, y)) =>
      call_function("replace", c, lit(s"$Sep$x$Sep$Sep$y$Sep"), lit(s"$Sep$x$y$Sep"))
    }
  }

  /** The token SEQUENCE of `text` as a pure codegen'd Column
    * (`ARRAY<STRING>`, spaces are tokens too — `concat_ws("", tokens)`
    * rebuilds the text verbatim): trim the outer separators off
    * [[encodeCol]]'s rendering, split on the `~~` boundary, drop the empty
    * element an empty text leaves. The Column twin of the kernel's token
    * output ([[encodeDocsIds]]); BpeSpec asserts the two agree
    * token-for-token. */
  def tokensCol(text: Column, merges: Seq[(String, String)] = fixtureMerges): Column = {
    val enc = encodeCol(text, merges)
    filter(split(regexp_replace(enc, s"^$Sep|$Sep$$", ""), s"$Sep$Sep"),
      t => t =!= lit(""))
  }

  /** BPE token count of `text` as a pure codegen'd Column: rendered tokens
    * each carry exactly two separators, so count = (#`~`)/2 minus the
    * space tokens (one per space character of the input). */
  def tokenCount(text: Column, merges: Seq[(String, String)] = fixtureMerges): Column = {
    val enc = encodeCol(text, merges)
    (((length(enc) - length(translate(enc, Sep, ""))) / 2).cast("long")
      - (length(text) - length(translate(text, " ", ""))).cast("long"))
  }

  /** The rendered-and-merged encoding as DuckDB SQL over `textExpr` —
    * generated from the SAME Scala merge list as [[encodeCol]], so engine
    * and oracle cannot drift. */
  def encodeSql(textExpr: String,
      merges: Seq[(String, String)] = fixtureMerges): String = {
    // (?s) for the same newline contract as `render` (DuckDB's RE2 honors
    // the inline flag exactly like the JVM regex engine)
    val rendered = s"regexp_replace($textExpr, '(?s)(.)', '$Sep\\1$Sep', 'g')"
    merges.foldLeft(rendered) { case (e, (x, y)) =>
      s"replace($e, '$Sep$x$Sep$Sep$y$Sep', '$Sep$x$y$Sep')"
    }
  }

  /** The identical count chain as DuckDB SQL over `textExpr`. */
  def tokenCountSql(textExpr: String,
      merges: Seq[(String, String)] = fixtureMerges): String = {
    val enc = encodeSql(textExpr, merges)
    s"((length($enc) - length(replace($enc, '$Sep', ''))) // 2" +
      s" - (length($textExpr) - length(replace($textExpr, ' ', ''))))"
  }

  /** The rendered encoding as a DuckDB token LIST (spaces are tokens too:
    * `list_aggregate(..., 'string_agg', '')` over the list rebuilds the
    * text verbatim — the detokenize contract the ids operator is checked
    * against). `trim` strips the outer separators, the split on the
    * boundary pair yields one element per token, and the filter drops the
    * empty element an empty text leaves behind. */
  def tokensSql(textExpr: String,
      merges: Seq[(String, String)] = fixtureMerges): String =
    s"list_filter(string_split(trim(${encodeSql(textExpr, merges)}, '$Sep'), " +
      s"'$Sep$Sep'), t -> t <> '')"

  /** Token vocabulary of a merge list: ids 0..26 for `' '` and `'a'..'z'`
    * (the byte-alphabet seeding every real BPE vocab starts from,
    * restricted to this corpus's documented `[a-z ]` contract), then one
    * id per merge OUTPUT in rank order — exactly how subword-nmt/GPT-2
    * number their vocabularies (alphabet first, merges after). Distinct by
    * construction: base entries are single chars, merge outputs are ≥ 2
    * chars and mutually distinct ([[validateMerges]]). Characters outside
    * the alphabet encode as id −1 (unk) — the documented out-of-contract
    * marker, never a silent collision. */
  def vocab(merges: Seq[(String, String)] = fixtureMerges): Seq[String] =
    (" " +: ('a' to 'z').map(_.toString)) ++ merges.map { case (x, y) => x + y }

  /** `token → id` CASE expression over the SAME vocab, for the DuckDB
    * oracle (vocabulary is metadata-scale, so a literal CASE is fine). */
  def tokenIdCaseSql(tokenExpr: String,
      merges: Seq[(String, String)] = fixtureMerges): String =
    vocab(merges).zipWithIndex.map { case (t, i) =>
      s"WHEN $tokenExpr = '${t.replace("'", "''")}' THEN $i"
    }.mkString("CASE ", " ", " ELSE -1 END")

  /** Regex pre-tokenizer (GPT-2-style, deterministic): text splits into
    * runs of LETTERS (`\p{L}+` — Unicode, so CJK text forms letter runs
    * exactly as GPT-2's pre-tokenizer treats it), runs of DIGITS, and
    * runs of other non-whitespace (punctuation); whitespace separates and
    * is never a pretoken. This is the fix for the two ways a bare
    * `split(text, " ")` word contract degrades on real corpora:
    * punctuation glues to words (`word,` and `word` learn separate
    * merges, splitting their statistics), and a no-whitespace document is
    * ONE giant word (the per-word merge loop goes O(len·rounds) on a
    * multi-KB token vector). Both alternation order and greediness are
    * identical in the JVM regex engine and DuckDB's RE2 (leftmost-first
    * alternation, greedy `+`), so engine and oracle pre-tokenize
    * identically; BpeSpec pins the kernel against the Column form.
    *
    * Whitespace is the EXPLICIT class `[ \t\n\x0B\f\r]`, not `\s`: Java's
    * `\s` includes `\x0B` (vertical tab) while RE2's is `[\t\n\f\r ]`
    * without it, so a `\x0B`-bearing document would pre-tokenize
    * differently in the engine (separator) vs the DuckDB oracle (part of
    * a punctuation run) — the one portability gap in the original `\s`
    * form (BpeSpec pins a `\x0B` document). */
  val PretokRegex = "[\\p{L}]+|[0-9]+|[^\\p{L}0-9 \\t\\n\\x0B\\f\\r]+"

  /** The pretoken ARRAY of `text` as a codegen'd Column. */
  def preTokens(text: Column): Column =
    regexp_extract_all(text, lit(PretokRegex), lit(0))

  /** The identical pre-tokenization as DuckDB SQL (RE2 honors the same
    * pattern; single-quoted literal needs no escaping here). */
  def preTokensSql(textExpr: String): String =
    s"regexp_extract_all($textExpr, '$PretokRegex')"

  /** Corpus word-frequency table — the ONLY corpus-scale stage of merge
    * learning: one explode + one map-side-combined aggregate; output is
    * vocabulary-scale. Empty words (double/trailing spaces) drop — they
    * carry no pairs. With `pretok = true` the word source is
    * [[preTokens]] instead of the single-space split — the production
    * contract for corpora with punctuation/CJK/no-space text. */
  def wordCounts(docs: DataFrame, pretok: Boolean = false): DataFrame = {
    val words = if (pretok) preTokens(col("text")) else split(col("text"), " ")
    docs.select(explode(words).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
  }

  /** LEARN a merge list from the corpus (Sennrich 2016 §3.2, the
    * subword-nmt/GPT-2 training architecture): the corpus first reduces
    * to the [[wordCounts]] table — at 100 TB that is the one distributed
    * pass, and its output is vocabulary-scale — then learning runs
    * driver-side over (word, count): repeatedly take the most frequent
    * adjacent token pair (count desc, then lexicographic (x, y) — a
    * DETERMINISTIC tie-break, so the DuckDB oracle can replay argmax
    * exactly), merge it leftmost-non-overlapping in every word, and
    * re-count. This is exactly how the reference tools train: pair
    * statistics over a word-frequency table, never over raw text twice.
    *
    * Driver loop is incremental (the subword-nmt optimization): a
    * pair→count map plus an ordered candidate set, updated only for the
    * words a merge touches (lazily-indexed by pair), so learning 10k
    * merges from a 100k-word vocab stays seconds, not hours; BpeSpec
    * pins the incremental loop == a naive recount. Stops early when the
    * best pair's count falls below
    * `minCount` or no pairs remain. `maxWords` fail-fasts on a vocab too
    * big to collect rather than silently truncating (cap the vocab
    * upstream — e.g. min-count-filter wordCounts — if hit; at 2M words
    * the table is ~tens of MB, standard tokenizer-training scale).
    *
    * The learned list satisfies [[validateMerges]]'s invariants by
    * construction — operands exist only as chars or earlier outputs —
    * EXCEPT output-distinctness, which learning on adversarial corpora
    * can violate ((a,bc) and (ab,c) both yielding "abc"); that breaks
    * the sequential≡priority equivalence the two evaluation paths rely
    * on, so it fails loudly here instead of mis-tokenizing later. */
  def learnMerges(docs: DataFrame, n: Int, minCount: Long = 2,
      maxWords: Int = 2000000, pretok: Boolean = false): Seq[(String, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wc = wordCounts(docs, pretok).as[(String, Long)].collect()
    require(wc.length <= maxWords,
      s"${wc.length} distinct words exceeds maxWords=$maxWords — " +
        "filter the word-count table (e.g. by min count) before learning")
    val learned = learnFromWordCounts(wc.toSeq, n, minCount)
    validateMerges(learned)
    learned
  }

  /** The driver-side learning loop over a word-frequency table. */
  private[graft] def learnFromWordCounts(wc: Seq[(String, Long)], n: Int,
      minCount: Long): Seq[(String, String)] = {
    require(n > 0, s"need a positive merge count, got $n")
    require(minCount > 0, s"minCount must be positive, got $minCount")
    import scala.collection.mutable
    val words: Array[Vector[String]] =
      wc.map(_._1.map(_.toString).toVector).toArray
    val cnt: Array[Long] = wc.map(_._2).toArray
    val pairCount = mutable.HashMap[(String, String), Long]()
    // lazy index: a word lands here when a pair appears in it and is
    // never removed — consumers re-check current adjacency
    val pairWords = mutable.HashMap[(String, String), mutable.Set[Int]]()
    // ordered candidates: (count desc, x asc, y asc) — head IS the argmax
    implicit val ord: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long.reverse, Ordering.String, Ordering.String)
    val queue = mutable.TreeSet[(Long, String, String)]()

    // add (sign=+1) or retract (sign=-1) word i's pair contributions
    def adjust(i: Int, sign: Long): Unit = {
      val toks = words(i)
      var j = 0
      while (j < toks.length - 1) {
        val p = (toks(j), toks(j + 1))
        val old = pairCount.getOrElse(p, 0L)
        if (old != 0) queue.remove((old, p._1, p._2))
        val nw = old + sign * cnt(i)
        if (nw != 0) {
          pairCount(p) = nw
          queue.add((nw, p._1, p._2))
        } else pairCount.remove(p)
        if (sign > 0) pairWords.getOrElseUpdate(p, mutable.Set()) += i
        j += 1
      }
    }
    def mergeWord(toks: Vector[String], x: String, y: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var j = 0
      while (j < toks.length) {
        if (j < toks.length - 1 && toks(j) == x && toks(j + 1) == y) {
          out += x + y; j += 2
        } else { out += toks(j); j += 1 }
      }
      out.result()
    }
    words.indices.foreach(adjust(_, 1L))

    val learned = Seq.newBuilder[(String, String)]
    var k = 0
    var done = false
    while (k < n && !done) {
      if (queue.isEmpty || queue.head._1 < minCount) done = true
      else {
        val (_, x, y) = queue.head
        learned += (x -> y)
        pairWords.getOrElse((x, y), mutable.Set()).foreach { i =>
          val toks = words(i)
          // lazy index: verify the pair is CURRENTLY adjacent here
          var has = false
          var j = 0
          while (!has && j < toks.length - 1) {
            has = toks(j) == x && toks(j + 1) == y; j += 1
          }
          if (has) {
            adjust(i, -1L)
            words(i) = mergeWord(toks, x, y)
            adjust(i, 1L)
          }
        }
        k += 1
      }
    }
    learned.result()
  }

  /** The CTE chain replaying `k` learning steps in DuckDB over the table
    * `documents(text)` — generated, like every other oracle here, from
    * the same contract the engine implements: word counts → per-step
    * (pair counts over rendered words → argmax by (count DESC, x, y) →
    * leftmost-non-overlapping replace) — so engine and oracle argmax,
    * tie-break and merge application cannot drift. Exposes CTEs `w$k`
    * (word, r rendered-merged, cnt) and `b0..b${k-1}` (x, y). */
  private def learnCtes(k: Int, wordsOf: String = "string_split(text, ' ')",
      corpusSql: String = "documents"): String = {
    val w0 =
      s"""w0 AS (SELECT word, regexp_replace(word, '(?s)(.)', '$Sep\\1$Sep', 'g') AS r, cnt
         |   FROM (SELECT word, count(*) AS cnt
         |         FROM (SELECT unnest($wordsOf) AS word FROM $corpusSql) uq
         |         WHERE word <> '' GROUP BY 1) wq)""".stripMargin
    val steps = (0 until k).map { i =>
      s"""p$i AS (SELECT l[j.j] AS x, l[j.j + 1] AS y, sum(cnt) AS c
         |   FROM (SELECT string_split(trim(r, '$Sep'), '$Sep$Sep') AS l, cnt FROM w$i) t$i
         |   JOIN range(1, 100000) j(j) ON j.j <= len(l) - 1
         |   GROUP BY 1, 2),
         | b$i AS (SELECT x, y FROM p$i ORDER BY c DESC, x, y LIMIT 1),
         | w${i + 1} AS (SELECT word,
         |     replace(r, '$Sep' || x || '$Sep$Sep' || y || '$Sep',
         |             '$Sep' || x || y || '$Sep') AS r, cnt
         |   FROM w$i CROSS JOIN b$i)""".stripMargin
    }
    (w0 +: steps).mkString(",\n ")
  }

  /** Oracle SQL: the `k` learned merges as `(rank, x, y)` rows.
    * `wordsOf`/`corpusSql` select the word source (default: single-space
    * split over `documents`; pass [[preTokensSql]]`("text")` and a corpus
    * CTE for the pre-tokenized form). */
  def learnSql(k: Int, wordsOf: String = "string_split(text, ' ')",
      corpusSql: String = "documents"): String = {
    val union = (0 until k)
      .map(i => s"SELECT CAST($i AS BIGINT) AS rank, x, y FROM b$i")
      .mkString("\n   UNION ALL ")
    s"WITH ${learnCtes(k, wordsOf, corpusSql)}\n $union\n ORDER BY rank"
  }

  /** Oracle SQL: the corpus re-tokenized under the `k` LEARNED merges —
    * per doc `(doc_id, bpe_tokens)` via the final word table (each word's
    * token count = its merged rendering's token-list length), matching
    * [[encodeDocs]] run on [[learnMerges]]' output (or their pretok twins
    * when `wordsOf` is [[preTokensSql]]`("text")`). */
  def learnedCountSql(k: Int, wordsOf: String = "string_split(text, ' ')",
      corpusSql: String = "documents"): String =
    s"""WITH ${learnCtes(k, wordsOf, corpusSql)},
       | wt AS (SELECT word, CAST(len(string_split(trim(r, '$Sep'), '$Sep$Sep')) AS BIGINT) AS t
       |        FROM w$k),
       | dw AS (SELECT doc_id, unnest($wordsOf) AS word FROM $corpusSql)
       | SELECT dw.doc_id, CAST(sum(wt.t) AS BIGINT) AS bpe_tokens
       | FROM dw JOIN wt USING (word)
       | GROUP BY 1""".stripMargin

  /** Oracle SQL for the PRETOK learn→encode chain: per doc `(doc_id,
    * n_pretok, bpe_tokens)` — [[learnedCountSql]] with the word source
    * fixed to [[preTokensSql]] and a pretoken count riding the same join
    * (`dw` has exactly one row per pretoken, and every pretoken is in
    * `wt` by construction). Matches [[encodeDocsPretok]] run on
    * [[learnMerges]]`(…, pretok = true)`. */
  def learnedPretokCountSql(k: Int, corpusSql: String): String =
    s"""WITH ${learnCtes(k, preTokensSql("text"), corpusSql)},
       | wt AS (SELECT word, CAST(len(string_split(trim(r, '$Sep'), '$Sep$Sep')) AS BIGINT) AS t
       |        FROM w$k),
       | dw AS (SELECT doc_id, unnest(${preTokensSql("text")}) AS word FROM $corpusSql)
       | SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_pretok,
       |   CAST(sum(wt.t) AS BIGINT) AS bpe_tokens
       | FROM dw JOIN wt USING (word)
       | GROUP BY 1""".stripMargin

  /** Encode one word with the standard iterate-lowest-rank BPE loop. */
  private def encodeWord(w: String,
      rank: scala.collection.Map[(String, String), Int]): Seq[String] = {
    if (w.isEmpty) return Seq.empty
    var toks: Vector[String] = w.map(_.toString).toVector
    var done = toks.length < 2
    while (!done) {
      var best = Int.MaxValue
      var bx = ""; var by = ""
      var i = 0
      while (i < toks.length - 1) {
        val r = rank.getOrElse((toks(i), toks(i + 1)), Int.MaxValue)
        if (r < best) { best = r; bx = toks(i); by = toks(i + 1) }
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // merge every occurrence of the winning pair, leftmost first
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < toks.length) {
          if (j < toks.length - 1 && toks(j) == bx && toks(j + 1) == by) {
            out += bx + by; j += 2
          } else { out += toks(j); j += 1 }
        }
        toks = out.result()
        if (toks.length < 2) done = true
      }
    }
    toks
  }

  /** The production tokenization kernel: `docs(doc_id, text)` →
    * `(doc_id, ws_tokens, bpe_tokens)` in one narrow mapPartitions pass —
    * per-partition merge-rank map + word→count memo (real corpora repeat
    * words heavily; the memo makes the loop amortized O(distinct words)),
    * no shuffle, scales with merge-list size unlike the replace chain. */
  def encodeDocs(docs: DataFrame,
      merges: Seq[(String, String)] = fixtureMerges): DataFrame = {
    validateMerges(merges)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val rank = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
        // java.lang.Long values: a Scala-Long-valued map would unbox a
        // missing key's null to 0 and the memo could never fill
        val memo = new java.util.HashMap[String, java.lang.Long]()
        rows.map { case (id, text) =>
          require(!text.contains(Sep),
            s"doc $id contains the reserved separator '$Sep'")
          // -1 limit: keep trailing empty strings, matching split(text,' ')
          val words = text.split(" ", -1)
          var n = 0L
          var i = 0
          while (i < words.length) {
            val w = words(i)
            var c: java.lang.Long = memo.get(w)
            if (c == null) {
              c = java.lang.Long.valueOf(encodeWord(w, rank).length.toLong)
              memo.put(w, c)
            }
            n += c.longValue()
            i += 1
          }
          (id, words.length.toLong, n)
        }
      }
      .toDF("doc_id", "ws_tokens", "bpe_tokens")
  }

  /** [[encodeDocs]] under the [[PretokRegex]] pre-tokenizer — the
    * production word contract: `docs(doc_id, text)` → `(doc_id,
    * n_pretok, bpe_tokens)` in the same narrow mapPartitions shape
    * (per-partition rank map + pretoken→count memo, no shuffle).
    * `n_pretok` counts pretokens (whitespace never is one); `bpe_tokens`
    * sums each pretoken's BPE length under `merges`. The pre-tokenizer
    * bounds every merge-loop input at one letter/digit/punctuation RUN,
    * so a no-space document costs O(Σ run²-ish) instead of one
    * O(len·rounds) giant-word loop, and `word,` vs `word` stop learning
    * and spending merges separately. Memo note: real corpora repeat
    * pretokens even more than space-split words (punctuation marks are
    * the heaviest repeaters), so the per-partition memo is amortized
    * O(distinct pretokens). */
  def encodeDocsPretok(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    validateMerges(merges)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val rank = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
        val pat = java.util.regex.Pattern.compile(PretokRegex)
        val memo = new java.util.HashMap[String, java.lang.Long]()
        rows.map { case (id, text) =>
          require(!text.contains(Sep),
            s"doc $id contains the reserved separator '$Sep'")
          val m = pat.matcher(text)
          var nPre = 0L
          var n = 0L
          while (m.find()) {
            val w = m.group()
            var c: java.lang.Long = memo.get(w)
            if (c == null) {
              c = java.lang.Long.valueOf(encodeWord(w, rank).length.toLong)
              memo.put(w, c)
            }
            nPre += 1L
            n += c.longValue()
          }
          (id, nPre, n)
        }
      }
      .toDF("doc_id", "n_pretok", "bpe_tokens")
  }

  /** The production kernel emitting the SEQUENCES a dataloader actually
    * materializes, not just their counts: `docs(doc_id, text)` →
    * `(doc_id, tokens ARRAY<STRING>, ids ARRAY<INT>, bpe_tokens)` in the
    * same narrow mapPartitions shape as [[encodeDocs]] (per-partition
    * rank map + word→tokens memo, no shuffle). `tokens` includes the
    * inter-word space tokens, so `concat_ws("", tokens)` rebuilds the
    * text verbatim — the detokenize round-trip BpeSpec pins. `ids` maps
    * through [[vocab]] (`' '` = 0, out-of-alphabet chars = −1);
    * `bpe_tokens` counts word tokens only (spaces excluded), identical to
    * [[encodeDocs]]' column of the same name, so packing budgets agree
    * between the counting and materializing passes. Memo note: the memo
    * holds token VECTORS now, not counts — still O(distinct words)
    * entries, each bounded by its word's length. */
  def encodeDocsIds(docs: DataFrame,
      merges: Seq[(String, String)] = fixtureMerges): DataFrame = {
    validateMerges(merges)
    val spark = docs.sparkSession
    import spark.implicits._
    val vb: Map[String, Int] = vocab(merges).zipWithIndex.toMap
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val rank = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
        val memo = new java.util.HashMap[String, Vector[String]]()
        rows.map { case (id, text) =>
          require(!text.contains(Sep),
            s"doc $id contains the reserved separator '$Sep'")
          val words = text.split(" ", -1)
          val toks = Vector.newBuilder[String]
          var nBpe = 0L
          var i = 0
          while (i < words.length) {
            if (i > 0) toks += " "
            val w = words(i)
            var t = memo.get(w)
            if (t == null) {
              t = encodeWord(w, rank).toVector
              memo.put(w, t)
            }
            toks ++= t
            nBpe += t.length
            i += 1
          }
          val tokens = toks.result()
          (id, tokens, tokens.map(t => vb.getOrElse(t, -1)), nBpe)
        }
      }
      .toDF("doc_id", "tokens", "ids", "bpe_tokens")
  }
}
