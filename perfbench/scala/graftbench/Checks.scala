package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import graft.model.{Quad, TermKind}
import graft.rdf.NTriplesParser
import graft.sources.{ExpectedKg, PageGen}

/** Output checks. Each returns the list of what differed (empty = correct);
  * the workloads count an operation as failed when its list is non-empty
  * and log every entry. */
object Checks {

  /** One emitted patch line: (checkpoint, serial, op, quad). */
  final case class PatchLine(cp: String, serial: Long, op: String, quad: Quad)

  private def parse(name: String, body: String, into: mutable.Buffer[PatchLine]): Unit = {
    // rdf_out_<cp14>-<serial14>
    val cp = name.substring(8, 22)
    val serial = name.substring(23).toLong
    body.split("\n").foreach { l =>
      NTriplesParser.parseLine(l, "").foreach(pl => into += PatchLine(cp, serial, pl.op, pl.quad))
    }
  }

  /** Data lines of every `rdf_out_*` file under a patch directory. */
  def patchLines(dir: String): Vector[PatchLine] = {
    val out = mutable.ArrayBuffer.empty[PatchLine]
    Sys.files(dir).filter(_.getFileName.toString.startsWith("rdf_out_")).foreach { p =>
      parse(p.getFileName.toString, Files.readString(p), out)
    }
    out.toVector
  }

  /** Number of patch files and their total line count (headers included). */
  def patchFileStats(dir: String): (Long, Long, Long) = {
    val fs = Sys.files(dir).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("rdf_out_") && !n.endsWith("99999999999998")
    }
    val lines = fs.map(p => Files.readAllLines(p).size.toLong).sum
    (fs.size.toLong, lines, fs.map(Files.size).sum)
  }

  /** Patch lines as a consumer sees them: every `rdf_out_*` member of every
    * published zip under `sink`, one copy per (graph, member name). */
  def publishedLines(sink: String): (Vector[PatchLine], Int) = {
    val seen = mutable.HashSet.empty[String]
    val out = mutable.ArrayBuffer.empty[PatchLine]
    Sys.files(sink).filter(_.getFileName.toString.endsWith(".zip")).foreach { z =>
      val zf = new java.util.zip.ZipFile(z.toFile)
      try {
        val es = zf.entries()
        while (es.hasMoreElements) {
          val e = es.nextElement()
          val name = e.getName.split("/").last
          if (name.startsWith("rdf_out_") && seen.add(z.getParent.getFileName + "/" + name)) {
            val body = new String(zf.getInputStream(e).readAllBytes(), "UTF-8")
            parse(name, body, out)
          }
        }
      } finally zf.close()
    }
    (out.toVector, seen.size)
  }

  /** Canonicalized quad set of a bootstrap over snapshot 0 of `src`:
    * `ExpectedKg.canonicalQuadSet` for seed 0, else the same closed form
    * re-derived from scratch over the seeded pages (per-page expected quads;
    * an {entity/X, alt/X} pair merges to the alt IRI when both occur). */
  def expectedBootstrap(src: PageSource): Set[Quad] = {
    val exp =
      if (src.offset == 0) ExpectedKg.canonicalQuadSet(src.n, 0)
      else {
        val raw = src.live(0).map(PageGen.pageFor(_, 0)).flatMap(ExpectedKg.pageQuads).toSet
        val iris = raw.flatMap(q => Seq(q.s) ++ (if (q.oKind == TermKind.Iri) Seq(q.oLex) else Nil))
          .filter(_.startsWith("http://kg.example.org/"))
        val canonical = iris.collect {
          case e if e.contains("/entity/") && iris.contains(PageGen.aliasIri(e)) =>
            e -> PageGen.aliasIri(e)
        }.toMap
        def canon(t: String) = canonical.getOrElse(t, t)
        raw.map(q => q.copy(s = canon(q.s),
          oLex = if (q.oKind == TermKind.Iri) canon(q.oLex) else q.oLex))
      }
    exp.map(q => Quad(q.s, q.p, q.oLex, q.oKind, q.oDtype, q.oLang, q.g))
  }

  def setDiff(what: String, got: Set[Quad], want: Set[Quad]): Seq[String] =
    if (got == want) Nil
    else {
      val extra = got -- want
      val missing = want -- got
      Seq(s"$what: ${got.size} quads vs ${want.size} expected; " +
        s"${extra.size} unexpected (e.g. ${extra.take(2).mkString("; ")}), " +
        s"${missing.size} missing (e.g. ${missing.take(2).mkString("; ")})")
    }

  def eq[T](what: String, got: T, want: T): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, expected $want")

  /** Replay `lines` of one batch onto `state` in (checkpoint, serial) order,
    * the consumer contract: every '-' must remove a present quad and every
    * '+' must add an absent one (the reference's "Quad count out of sync"
    * reconciliation). */
  def replay(what: String, state: mutable.HashSet[Quad], lines: Seq[PatchLine]): Seq[String] = {
    var badDel = 0; var badAdd = 0; var example = ""
    lines.sortBy(l => (l.cp, l.serial)).foreach { l =>
      val ok = if (l.op == "+") state.add(l.quad) else state.remove(l.quad)
      if (!ok) {
        if (l.op == "+") badAdd += 1 else badDel += 1
        if (example.isEmpty) example = s"${l.op} ${l.quad}"
      }
    }
    if (badAdd + badDel == 0) Nil
    else Seq(s"$what out of sync: $badDel deletions of absent quads, $badAdd additions " +
      s"of present quads (e.g. $example)")
  }

  /** Scratch copy of a patch directory with one data line altered (its
    * first IRI gets a `corrupt:` prefix, so the line still parses but names
    * another quad). Used by the benchmark's self-test to show the patch
    * check fires. */
  def corruptCopy(dir: String, to: String): String = {
    Sys.copyTree(dir, to)
    import scala.jdk.CollectionConverters._
    val victim: Path = Sys.files(to).filter(_.getFileName.toString.startsWith("rdf_out_"))
      .sortBy(_.toString).find(p => Files.readAllLines(p).asScala.exists(!_.startsWith("#")))
      .getOrElse(sys.error(s"no data line to corrupt under $to"))
    val lines = Files.readAllLines(victim)
    val i = lines.asScala.indexWhere(!_.startsWith("#"))
    val l = lines.get(i)
    val k = l.indexOf('<')
    lines.set(i, l.substring(0, k + 1) + "corrupt:" + l.substring(k + 1))
    Files.write(victim, lines)
    victim.toString
  }
}
