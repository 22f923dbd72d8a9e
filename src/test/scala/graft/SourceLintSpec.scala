package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source hygiene gate over `src/main/scala`: no control bytes other than
  * newline, tab and carriage return (a raw NUL makes `grep` treat the file
  * as binary); the store swap protocol and marker format stay in ONE
  * module — renames and raw file opens/creates appear only in the
  * store-lifecycle kernel ([[StoreFs]]); parquet data (stores and fixture
  * tables alike) opens through [[StoreFs.read]]; "term matches" has one
  * definition, [[QueryCompiler.termMatch]]; the index analyzer has one,
  * [[graft.functions.WordRuns]]; the relevance order has one,
  * [[Search.relevanceOrder]]; the multiset compare of the append
  * contract, `exceptAll`, lives only in [[StoreFs.appendNeeded]]; and a
  * sort that a partitioned write must keep is declared only through
  * [[StoreFs.sortedWrite]]. Over
  * `src/main/scala` and `src/test/scala`: sessions are built only by
  * [[SparkEntry.localSession]], and the append contract has no conf
  * switch. */
class SourceLintSpec extends AnyFunSuite {

  private val Kernel = "storefs.scala"

  private def sources: Seq[java.io.File] = sourcesUnder("src/main/scala")

  private def sourcesUnder(tree: String): Seq[java.io.File] = {
    val root = Seq(tree, s"../$tree")
      .map(new java.io.File(_)).find(_.isDirectory)
      .getOrElse(fail(s"cannot locate $tree"))
    def walk(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.sortBy(_.getName).flatMap(f =>
        if (f.isDirectory) walk(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    walk(root)
  }

  test("src/main/scala holds no control bytes besides \\n, \\t and \\r") {
    val bad = for {
      f <- sources
      (b, i) <- java.nio.file.Files.readAllBytes(f.toPath).zipWithIndex
      if (b >= 0 && b < 0x20 && b != '\n' && b != '\t' && b != '\r') || b == 0x7f
    } yield s"${f.getPath} @ byte $i: 0x${"%02x".format(b)}"
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("renames and raw file opens/creates occur only in the store kernel") {
    val banned = Seq(".rename(", "fs.open(", "fs.create(")
    val bad = for {
      f <- sources if f.getName != Kernel
      (line, n) <- java.nio.file.Files.readAllLines(f.toPath).toArray
        .map(_.toString).zipWithIndex.toSeq
      token <- banned if line.contains(token)
    } yield s"${f.getPath}:${n + 1}: $token"
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  /** `token` occurrences in the whitespace-collapsed text of every source
    * (so a call split over lines still counts), as (file, offset, text). */
  private def calls(token: scala.util.matching.Regex,
                    files: Seq[java.io.File] = sources): Seq[(java.io.File, Int, String)] =
    for {
      f <- files
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .replaceAll("\\s+", " ")
      m <- token.findAllMatchIn(text).toSeq
    } yield (f, m.start, text)

  test("parquet stores open through StoreFs.read, not a schema-inferring read") {
    // a read given its schema (scroll's `.read.schema(`) infers nothing and
    // is not matched
    val bad = calls("""\.read ?\.(parquet\(|option\( ?"basePath")""".r).collect {
      case (f, at, text) if f.getName != Kernel => s"${f.getPath}: ${text.slice(at, at + 60)}"
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("sessions are built only by the one session factory") {
    val found = calls("""SparkSession ?\.builder""".r,
        sources ++ sourcesUnder("src/test/scala")).map {
      case (f, at, text) => s"${f.getPath}: ${text.slice(at, at + 60)}"
    }
    assert(found.size == 1 && found.head.contains("SparkEntry.scala:"),
      found.mkString("\n"))
  }

  test("term regexes reach .rlike( only through QueryCompiler.termMatch") {
    // termMatch applies a term's regex itself (from the same parse as its
    // native kernel); highlighting uses the pattern via regexp_replace
    val bad = calls("""\.rlike\( ?(QueryCompiler\.)?termPattern\(""".r).map {
      case (f, at, text) => s"${f.getPath}: ${text.slice(at, at + 60)}"
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the analyzer regex lives only in the word_runs kernel") {
    // every tokenize site goes through functions/WordRuns.scala; the DuckDB
    // oracle SQL in SparkEntry spells the regex as the reference
    val allowed = Set("WordRuns.scala", "SparkEntry.scala")
    val bad = for {
      f <- sources if !allowed(f.getName)
      (line, n) <- java.nio.file.Files.readAllLines(f.toPath).toArray
        .map(_.toString).zipWithIndex.toSeq
      if line.contains("[^a-z0-9_]+")
    } yield s"${f.getPath}:${n + 1}: ${line.trim}"
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the append contract's multiset compare lives only in the store kernel") {
    val bad = calls("""exceptAll\(""".r).collect {
      case (f, at, text) if f.getName != Kernel => s"${f.getPath}: ${text.slice(at, at + 60)}"
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the append contract has no conf switch") {
    // spelled in two halves so this file does not match itself
    val key = java.util.regex.Pattern.quote("graft.append." + "insertCheck")
    val found = calls(key.r, sources ++ sourcesUnder("src/test/scala")).map {
      case (f, at, text) => s"${f.getPath}: ${text.slice(at, at + 60)}"
    }
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("one Okapi BM25 expression; no hit order outside Search.topK's halves") {
    // the DuckDB oracle SQL in SparkEntry spells BM25 out for the compare
    val okapi = calls(java.util.regex.Pattern.quote("(k1 + 1.0)").r).collect {
      case (f, at, text) if f.getName != "SparkEntry.scala" =>
        s"${f.getPath}: ${text.slice(at - 40, at + 40)}"
    }
    assert(okapi.size == 1, okapi.mkString("\n"))
    // the relevance order is spelled once, in Search.relevanceOrder: every
    // scored operator ranks through Search.rankHits, which uses it
    val relevance = java.util.regex.Pattern.quote("desc(\"_score\")").r
    val found = calls(relevance).map { case (f, at, text) =>
      val owner = text.lastIndexOf(" def ", at) + " def ".length
      s"${f.getName}: ${text.slice(owner, text.indexOf('(', owner))}"
    }
    assert(found == Seq("search.scala: relevanceOrder"), found.mkString("\n"))
  }

  test("a sorted partitioned write goes through StoreFs.sortedWrite") {
    // Spark's planned write sorts by the partition columns and drops a
    // narrower sortWithinPartitions beneath it, so a sort chained into a
    // partitionBy write leaves unsorted files. The chain is followed to the
    // end of its method; a Window spec's partitionBy is not a write.
    val writerPartitionBy = """(?<!Window ?\.)partitionBy\(""".r
    val bad = calls("""sortWithinPartitions\(""".r).collect {
      case (f, at, text) if f.getName != Kernel && {
            val next = text.indexOf(" def ", at)
            val chain = text.slice(at, if (next < 0) text.length else next)
            writerPartitionBy.findFirstIn(chain).isDefined
          } => s"${f.getPath}: ${text.slice(at, at + 80)}"
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
