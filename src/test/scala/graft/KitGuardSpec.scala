package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The near-dup text decisions live in `operators/Kit.scala` alone: the
  * tokenizer that must match the oracle's `string_split_regex(lower(text),
  * '\s+')`, and the shingle set whose hand-rolled copies drifted into the
  * `slice` start-0 failure on docs shorter than a shingle. This spec fails
  * when a batch file spells either one again instead of calling the kit.
  * Likewise the dialect rewriter's quote lexer and fixpoint driver live in
  * `SqlScan.scala` alone: capped rewrite loops silently left the occurrences
  * past their cap unrewritten. And the exact sums every batch folds its
  * double aggregates with are spelled in `Kit.scala` alone, so the one
  * decision that keeps results hash-equal to the oracle is made once. So
  * are the per-day event series frames and the embedding centroid and
  * k-means frames, the English stop-word ratio and the md5 hex fraction,
  * and the rank and moment statistics: midranks, the Ansari–Bradley block,
  * the DECIMAL(38,0) power sums, the survival subjects, the click/view value
  * frame and the annotator screens (the exact top-k truth frame lives in
  * `IvfIndex`). And so are the set-similarity pair frames: the Jaccard
  * ratio, the row-local pair emission, the rare-shingle idf the p160/p192
  * twins share, and the exchange width of the pair stages (`Kit.pin` and
  * `Kit.spread`, the only readers of `defaultParallelism` under
  * `operators/`).
  */
class KitGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  private def sources: Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def offenders(needle: String, allowed: Set[String]): Seq[String] =
    sources.filterNot(p => allowed.contains(p.getFileName.toString)).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"${root.relativize(p)}:${i + 1}"
      }
    }

  test("the tokenizer is spelled only in Kit and Functions") {
    val hits = offenders("split(lower(", Set("Kit.scala", "Functions.scala"))
    assert(hits.isEmpty, s"use Kit.words instead of split(lower(...)): ${hits.mkString(", ")}")
  }

  test("no private tokenizer or hand-rolled shingle spelling") {
    val hits = Seq("private def toks", "def shingles", "sequence(lit(1), greatest(size(")
      .flatMap(offenders(_, Set.empty))
    assert(hits.isEmpty,
      s"use Kit.words / Kit.shingleSet instead of a local copy: ${hits.mkString(", ")}")
  }

  test("exact sums are spelled only in Kit") {
    // whitespace collapsed: a fold often spans lines
    val fold = """\.cast\("decimal\(38,\d+\)"\)\)\.cast\("double"\)""".r
    val rounded = """,(\d+)\)\.cast\("decimal\(38,\1\)"\)""".r
    val spelled = sources.filterNot(_.getFileName.toString == "Kit.scala").flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8").replaceAll("\\s+", "")
      Seq(fold, rounded).flatMap(_.findAllIn(text).map(m => s"${root.relativize(p)}: $m"))
    }
    val defs = Seq("def fsum", "def dsum").flatMap(offenders(_, Set("Kit.scala")))
    assert(spelled.isEmpty && defs.isEmpty,
      "use Kit.dsum / Kit.rsum / Kit.rdec / Kit.fsum instead of a local spelling: " +
        (spelled ++ defs).mkString(", "))
  }

  test("no hand-rolled quote loop or capped rewrite loop outside SqlScan") {
    val hits = Seq("inStr =", "guard <").flatMap(offenders(_, Set("SqlScan.scala")))
    assert(hits.isEmpty,
      s"use SqlScan.lex / SqlScan.fixpoint instead of a local copy: ${hits.mkString(", ")}")
  }

  test("series, vector, stop-word and hex-fraction frames are spelled only in Kit") {
    // whitespace removed and triple-quoted oracle SQL blanked: a spelling
    // often spans lines, and the oracle text is the spec, not a copy
    val spellings = Seq(
      """groupBy\(col\("ts"\)\.cast\("date"\)\.as\("d"\)\)\.agg\(count\(lit\(1\)\)(\.cast\("bigint"\))?\.as\("c"\)\)""",
      """select\(col\("ts"\)\.cast\("date"\)\.as\("\w+"\)\)\.distinct\(\)""",
      """datediff\(col\("d"\),col\("d0"\)\)\.cast\("bigint"\)\.as\("x"\)""",
      """col\("a\.r"\)===col\("b\.r"\)\+col\("lag"\)""",
      """collect_list\(struct\(col\("dim"\)""",
      """array_max\(scoredArr\)""",
      """valEnStops=""",
      """defhexFrac""").map(_.r)
    val spelled = sources.filterNot(_.getFileName.toString == "Kit.scala").flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
        .replaceAll("(?s)\"\"\".*?\"\"\"", "\"\"")
        .replaceAll("\\s+", "")
      spellings.flatMap(_.findAllIn(text).map(m => s"${root.relativize(p)}: $m"))
    }
    assert(spelled.isEmpty,
      "use Kit.dayCounts / dayTypeGrid / dayIndex / lagPairs / centroids / " +
        "sphericalKMeans / enRatio / hexFrac instead of a local spelling: " +
        spelled.mkString(", "))
  }

  test("rank, moment, survival, screen and truth frames are spelled only in Kit") {
    // whitespace removed and triple-quoted oracle SQL blanked, as above
    val spellings = Seq(
      "defmidranks",
      """+(col("c")+1)/2.0""",
      """sum(x*x).cast("decimal(38,0)")""",
      "deftwoG",
      """max(col("ts")).as("last_seen")""",
      "valbyV=",
      "privatevalStopRe=",
      "privatevalWordRe=",
      "valtruth=broadcast(q)")
    val spelled = sources.filterNot(_.getFileName.toString == "Kit.scala").flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
        .replaceAll("(?s)\"\"\".*?\"\"\"", "\"\"")
        .replaceAll("\\s+", "")
      spellings.filter(text.contains(_)).map(m => s"${root.relativize(p)}: $m")
    }
    assert(spelled.isEmpty,
      "use Kit.midranks / rankSums / twoGroupFrame / ansariBradley / powerSums / " +
        "survivalSubjects / clickViewCounts / annotatorLabels or IvfIndex.exactTopK " +
        "instead of a local spelling: " + spelled.mkString(", "))
  }

  test("pair frames, idf and exchange widths are spelled only in Kit") {
    // whitespace removed and triple-quoted oracle SQL blanked, as above;
    // a Jaccard denominator is `/ (x + y - z)` with x, y columns
    val spellings = Seq(
      """/\(col\("[\w.]+"\)(\.cast\("double"\))?(/1e9)?\+col\("[\w.]+"\)(\.cast\("double"\))?(/1e9)?-[a-z]""",
      """filter\(col\("ids"\)""",
      """log\(col\("corpus_n"\)""").map(_.r)
    val spelled = sources.filterNot(_.getFileName.toString == "Kit.scala").flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
        .replaceAll("(?s)\"\"\".*?\"\"\"", "\"\"")
        .replaceAll("\\s+", "")
      val width =
        if (root.relativize(p).startsWith("operators") && text.contains("defaultParallelism"))
          Seq(s"${root.relativize(p)}: defaultParallelism")
        else Nil
      spellings.flatMap(_.findAllIn(text).map(m => s"${root.relativize(p)}: $m")) ++ width
    }
    assert(spelled.isEmpty,
      "use Kit.jaccardPairs / jaccard / pairOverlap / bucketPairs / rareIdf / " +
        "prefixCandidates / pin / spread instead of a local spelling: " +
        spelled.mkString(", "))
  }
}
