package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/**
 * Docs and code cite only what exists: every `runMain graft.<Name>` in
 * the top-level docs and the verify skill names an object with a
 * `main` in src/main, and every `plans/…` path cited in src/main is in
 * the repository. CHANGES.md is a history and may name removed mains.
 */
class CitationSpec extends AnyFunSuite {

  private val root: Path = Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
    .takeWhile(_ != null).find(p => Files.exists(p.resolve("build.sbt")))
    .getOrElse(fail("no build.sbt above the working directory"))

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** True when `name` is a class compiled from src/main with a static
   *  `main(Array[String])` (an object's forwarder). */
  private def mainInSrcMain(name: String): Boolean =
    try {
      val c = Class.forName(name)
      c.getMethod("main", classOf[Array[String]])
      !c.getProtectionDomain.getCodeSource.getLocation.getPath.contains("test-classes")
    } catch { case _: ClassNotFoundException | _: NoSuchMethodException => false }

  test("every runMain graft.<Name> in the docs names an object with a main") {
    val docs = Files.list(root).iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".md") && n != "CHANGES.md"
    }.toSeq ++ Seq(root.resolve(".claude/skills/verify/SKILL.md")).filter(Files.exists(_))
    val RunMain = """runMain\s+(graft(?:\.\w+)+)""".r
    val cited = for {
      d <- docs
      m <- RunMain.findAllMatchIn(read(d))
    } yield (root.relativize(d), m.group(1))
    assert(cited.exists(_._2 == "graft.Verify"), cited)
    val missing = cited.filterNot { case (_, name) => mainInSrcMain(name) }
    assert(missing.isEmpty, missing.mkString("cited mains that do not exist:\n", "\n", ""))
  }

  test("every plans/ path cited in src/main exists") {
    val sources = Files.walk(root.resolve("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val Cite = """\bplans/[\w./-]*\w""".r
    val cited = for {
      f <- sources
      m <- Cite.findAllMatchIn(read(f))
    } yield (root.relativize(f), m.matched)
    val missing = cited.filterNot { case (_, p) => Files.exists(root.resolve(p)) }
    assert(missing.isEmpty, missing.mkString("cited plans that do not exist:\n", "\n", ""))
  }
}
