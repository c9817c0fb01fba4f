package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The dispatch boundaries of [[LoopPolicy]]: the width rule, the
  * interpreted cutoff, conf restore after a throwing or nested scope, its
  * counters, and that it is the one place in `src/main` that sets confs
  * around a loop or core. */
class LoopPolicySpec extends AnyFunSuite {
  import TestSpark._

  private val watched = Seq(
    "spark.sql.shuffle.partitions" -> "7",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.execution.replaceHashWithSortAgg" -> "false",
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "FALLBACK")

  /** A session of its own with every watched conf set explicitly. */
  private def session(): SparkSession = {
    val s = spark.newSession()
    watched.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def confs(s: SparkSession) = watched.map { case (k, _) => k -> s.conf.get(k) }

  /** (width passed to the body, the session's width inside the scope) */
  private def widthIn(s: SparkSession, rows: Option[Long], lanes: Int = 1) =
    LoopPolicy.scope(s, rows, lanes, stepped = false) { w =>
      (w, s.conf.get("spark.sql.shuffle.partitions").toInt) }

  test("width is rows·lanes / 25 000: 1 at 49 999, 2 at 50 000, capped at defaultParallelism") {
    val s = session()
    assert(widthIn(s, Some(49999L)) == ((1, 1)))
    assert(widthIn(s, Some(50000L)) == ((2, 2)))
    assert(widthIn(s, Some(24999L), lanes = 2) == ((1, 1)))
    assert(widthIn(s, Some(25000L), lanes = 2) == ((2, 2)))
    assert(widthIn(s, Some(0L)) == ((1, 1)))
    val dp = s.sparkContext.defaultParallelism
    assert(widthIn(s, Some(1000000000L)) == ((dp, dp)))
    assert(confs(s) == watched)
  }

  test("an unsized scope keeps the session's width, and every scope turns AQE off") {
    val s = session()
    assert(widthIn(s, None) == ((7, 7)))
    LoopPolicy.scope(s, None, stepped = true) { _ =>
      assert(s.conf.get("spark.sql.adaptive.enabled") == "false")
      assert(s.conf.get("spark.sql.execution.replaceHashWithSortAgg") == "true")
      // no rows, so never interpreted
      assert(s.conf.get("spark.sql.codegen.wholeStage") == "true")
    }
    assert(confs(s) == watched)
  }

  test("interpreted at stepped 2e6 rows, not at 2e6+1, never when not stepped") {
    val s = session()
    def codegenIn(rows: Long, stepped: Boolean) =
      LoopPolicy.scope(s, Some(rows), stepped = stepped) { _ =>
        (s.conf.get("spark.sql.codegen.wholeStage"), s.conf.get("spark.sql.codegen.factoryMode")) }
    assert(codegenIn(2000000L, stepped = true) == (("false", "NO_CODEGEN")))
    assert(codegenIn(10L, stepped = true) == (("false", "NO_CODEGEN")))
    assert(codegenIn(2000001L, stepped = true) == (("true", "FALLBACK")))
    assert(codegenIn(2000000L, stepped = false) == (("true", "FALLBACK")))
    assert(codegenIn(10L, stepped = false) == (("true", "FALLBACK")))
    assert(confs(s) == watched)
  }

  test("confs are restored after a throwing body and after a nested scope") {
    val s = session()
    intercept[IllegalStateException] {
      LoopPolicy.scope(s, Some(10L), stepped = true) { _ =>
        throw new IllegalStateException("boom")
      }
    }
    assert(confs(s) == watched, "confs must restore when the body throws")
    // spectralPartition's shape: a stepped scope around eigshSharded's
    // wider one
    LoopPolicy.scope(s, Some(60000L), stepped = true) { outer =>
      val inside = confs(s)
      assert(outer == 2 && inside.head == ("spark.sql.shuffle.partitions" -> "2"))
      LoopPolicy.scope(s, Some(60000L), lanes = 3, stepped = true) { inner =>
        assert(inner == math.min(7, s.sparkContext.defaultParallelism))
      }
      assert(confs(s) == inside, "the outer scope's confs hold after the inner one")
      intercept[IllegalStateException] {
        LoopPolicy.scope(s, None, stepped = false) { _ => throw new IllegalStateException("x") }
      }
      assert(confs(s) == inside, "and after an inner one that throws")
    }
    assert(confs(s) == watched)
  }

  test("each scope adds 1 to loop.scopes, its width to loop.parts, 1 to loop.interpreted if so") {
    val s = session()
    Instrument.withExclusive {
      val before = Instrument.snapshot()
      LoopPolicy.scope(s, Some(50000L), stepped = true)(_ => ())
      assert(Instrument.since(before) ==
        Map("loop.scopes" -> 1L, "loop.parts" -> 2L, "loop.interpreted" -> 1L))
      val mid = Instrument.snapshot()
      LoopPolicy.scope(s, None, stepped = false)(_ => ())
      assert(Instrument.since(mid) == Map("loop.scopes" -> 1L, "loop.parts" -> 7L))
    }
  }

  test("src/main sets confs only in LoopPolicy, Tables.events and ScaleProbe's stream mode") {
    val root = Paths.get("src/main/scala")
    val files = {
      val it = Files.walk(root)
      try it.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector finally it.close()
    }
    assert(files.exists(_.endsWith("graft/LoopPolicy.scala")), s"no sources under $root")
    // the one conf each other file may set, named on the line that sets it
    val allowed = Map(
      "graft/Tables.scala" -> "spark.sql.legacy.parquet.nanosAsLong",
      "graft/ScaleProbe.scala" -> "spark.sql.streaming.stateStore.providerClass")
    val setsConf = """\.conf\.(set|unset)\(|\.setConf\(""".r
    def rel(f: Path) = root.relativize(f).toString.replace('\\', '/')
    val offenders = for {
      f <- files if !rel(f).endsWith("graft/LoopPolicy.scala")
      lines = new String(Files.readAllBytes(f), StandardCharsets.UTF_8).linesIterator.toVector
      (line, i) <- lines.zipWithIndex
      if setsConf.findFirstIn(line).isDefined &&
        !allowed.get(rel(f)).exists(k => (line + lines.lift(i + 1).getOrElse("")).contains(k))
    } yield s"${rel(f)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    val widths = for {
      f <- files if !rel(f).endsWith("graft/LoopPolicy.scala")
      (line, i) <- new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        .linesIterator.zipWithIndex
      if """/\s*25000L""".r.findFirstIn(line).isDefined
    } yield s"${rel(f)}:${i + 1}: ${line.trim}"
    assert(widths.isEmpty, widths.mkString("\n"))
  }
}
