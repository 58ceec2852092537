package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Caches]] is the only code that persists, caches or unpersists a
  * frame. This source guard fails when a `src/main` file other than
  * `Caches.scala` calls `.cache()`, `unpersist` or a Dataset/RDD
  * `persist` (a [[Caches.Held]]'s `persist` is the owned form), calls
  * `Caches.pin`, or names a `StorageLevel` outside the DISK_ONLY
  * `localCheckpoint` form; and when `Caches.scala` calls another
  * module's release hook, so that `clearAll` releases only what the
  * memo holds.
  */
class PersistGuardSpec extends AnyFunSuite {

  private val Root = Paths.get("src/main/scala/graft")

  private def sources: Seq[(String, String)] = {
    val walk = Files.walk(Root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => Root.relativize(p).toString -> read(p))
    finally walk.close()
  }

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  /** `s` with its comments blanked: `/* … */` blocks and `//` to the end
    * of the line, outside string and character literals.
    */
  private def code(s: String): String = {
    /** The end of the literal opening at `i`, or -1. */
    def literalEnd(i: Int): Int =
      if (s.startsWith("\"\"\"", i)) {
        val e = s.indexOf("\"\"\"", i + 3)
        if (e < 0) s.length else e + 3
      } else if (s.charAt(i) == '"') {
        var j = i + 1
        while (j < s.length && s.charAt(j) != '"' && s.charAt(j) != '\n')
          j += (if (s.charAt(j) == '\\') 2 else 1)
        math.min(j + 1, s.length)
      } else if (s.charAt(i) == '\'' && s.startsWith("'", i + 2)) i + 3
      else if (s.charAt(i) == '\'' && s.startsWith("\\", i + 1)) {
        val e = s.indexOf('\'', i + 3)
        if (e < 0) s.length else e + 1
      } else -1
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val lit = literalEnd(i)
      if (lit >= 0) { out ++= s.substring(i, lit); i = lit }
      else if (s.startsWith("//", i)) {
        while (i < s.length && s.charAt(i) != '\n') i += 1
      } else if (s.startsWith("/*", i)) {
        val end = s.indexOf("*/", i + 2)
        val stop = if (end < 0) s.length else end + 2
        out ++= s.substring(i, stop).filter(_ == '\n')
        i = stop
      } else { out += s.charAt(i); i += 1 }
    }
    out.toString
  }

  private val HeldType = "(?:graft\\.)?(?:Caches\\.)?Held\\b"

  /** The names `Held` values go by in `srcs`: `val x = new …Held`,
    * `x: …Held` parameters and `holding { x =>` bindings.
    */
  private def heldNames(srcs: Seq[String]): Set[String] = {
    val forms = Seq(
      "\\b(?:val|var)\\s+(\\w+)\\s*=\\s*new\\s+" + HeldType,
      "\\b(\\w+)\\s*:\\s*" + HeldType,
      "\\bholding\\s*\\{\\s*(\\w+)\\s*=>",
      "\\bholding\\s*\\(\\s*(\\w+)\\s*=>").map(_.r)
    srcs.flatMap(s => forms.flatMap(_.findAllMatchIn(s).map(_.group(1))))
      .toSet
  }

  /** Each call in `src` that breaks the rule, with its line number. A
    * call may span lines: a `.persist(` opening a continuation line
    * has no receiver, so it is never a `Held`'s.
    */
  private def violations(src: String, held: Set[String]): Seq[String] = {
    val c = code(src)
    val allowed = ("localCheckpoint\\(\\s*(?:eager\\s*=\\s*)?true\\s*,\\s*" +
      "(?:[\\w.]*\\.)?StorageLevel\\.DISK_ONLY\\s*\\)").r.findAllMatchIn(c)
      .map(m => m.start until m.end).toSeq
    val calls = "(\\w*)\\s*\\.\\s*(persist|unpersist)\\b".r.findAllMatchIn(c)
      .filter(m => m.group(2) == "unpersist" || !held(m.group(1)))
    val caches = Seq("\\.\\s*cache\\s*\\(\\s*\\)",
      "\\bCaches\\s*\\.\\s*pin\\b").flatMap(_.r.findAllMatchIn(c))
    val levels = "\\bStorageLevel\\b".r.findAllMatchIn(c)
      .filterNot(m => allowed.exists(_.contains(m.start)))
    (calls ++ caches ++ levels).toSeq.sortBy(_.start).map { m =>
      val line = c.substring(0, m.start).count(_ == '\n') + 1
      s"$line: ${m.matched.replaceAll("\\s+", " ").trim}"
    }
  }

  /** Calls in `Caches.scala` of another object's release hook. */
  private def foreignHooks(caches: String): Seq[String] =
    ("\\b([A-Z]\\w*)\\s*\\.\\s*((?:release|reset|clear|drop|invalidate|" +
      "unpersist)\\w*)\\s*\\(").r.findAllMatchIn(code(caches))
      .filterNot(m => Set("Caches", "IndexLake")(m.group(1)))
      .map(_.matched).toSeq

  test("only Caches persists, caches or unpersists a frame") {
    val srcs = sources
    val held = heldNames(srcs.map(_._2))
    val found = srcs.filter(_._1 != "Caches.scala").flatMap {
      case (f, s) => violations(s, held).map(v => s"$f:$v")
    }
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("Caches calls no other module's release hook") {
    val hooks = foreignHooks(read(Root.resolve("Caches.scala")))
    assert(hooks.isEmpty, hooks.mkString("\n"))
  }

  test("the guard sees every form") {
    val held = Set("held")
    val bad = Seq(
      "val a = df.cache()",
      "df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)",
      "val d = frame(x)\n  .persist(DISK_ONLY)",
      "df.localCheckpoint(\n  eager = true, StorageLevel.MEMORY_ONLY)",
      "x.unpersist(); y",
      "held.unpersist()",
      "val p = graft.Caches.pin(df)",
      "df.persist(MEMORY_AND_DISK)",
      "val lvl = StorageLevel.MEMORY_ONLY")
    for (b <- bad) assert(violations(b, held).nonEmpty, b)
    val good = Seq(
      "val a = held.persist(df)",
      "parShingles(docs, held.persist)",
      "df.localCheckpoint(eager = true, StorageLevel.DISK_ONLY)",
      "df.localCheckpoint(\n  eager = true,\n  " +
        "org.apache.spark.storage.StorageLevel.DISK_ONLY)",
      "// a comment may say df.persist(x) or .cache()",
      "val url = \"https://x\" // then df.unpersist()",
      "val q = '\"'; val t = \"\"\"a \" // b\"\"\" // df.cache()")
    for (g <- good) assert(violations(g, held).isEmpty, g)
    assert(heldNames(Seq("val held = new graft.Caches.Held",
      "def f(built: graft.Caches.Held)", "Caches.holding { h =>")) ===
      Set("held", "built", "h"))
    assert(foreignHooks("  enrich.Propose.releaseScaffolds()\n" +
      "  IndexLake.resetFingerprints()") === Seq("Propose.releaseScaffolds("))
  }
}
