package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.{ClassReader, ClassVisitor, Opcodes}
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** Which `src/main` files no entry point reaches, read off the compiled
  * classes. From the roots (`graft.app.Main`, `graft.Bench`,
  * `graft.Verify`, every `graft.tools` class and every class perfbench
  * imports) the walk follows each class's constant-pool class entries,
  * the class types inside its descriptors and signatures, and any string
  * constant naming a main class by its dotted name (codegen templates
  * such as `JaroWinklerExpr`'s). That over-approximates what runs, so a
  * file reported unreached is referenced by no root at all. A file is
  * unreached when every class compiled from it (mapped by its
  * `SourceFile` attribute) is unreached.
  *
  * The committed list `unreached_main_files.txt` may only shrink: a new
  * unreached file fails here, and so does a listed file that is reached
  * again or no longer compiles to any class (delete its line). */
class ReachabilitySpec extends AnyFunSpec with Matchers {
  import ReachabilitySpec._

  private lazy val classes: Map[String, MainClass] = readMainClasses()
  private lazy val reached: Set[String] = walk(classes, roots(classes))

  describe("the main classes reachable from the entry points") {
    it("leave unreached exactly the files on the committed list") {
      val files = classes.values.groupBy(_.file).map { case (f, cs) => f -> cs.map(_.name).toSeq.sorted }
      val unreached = files.filter(_._2.forall(c => !reached(c))).keySet
      val listed = committedList()
      val dotted = (cs: Seq[String]) => cs.map(_.replace('/', '.')).mkString(", ")
      val problems =
        (unreached -- listed).toSeq.sorted.map(f => s"newly unreached: $f (${dotted(files(f))})") ++
          (listed -- unreached).toSeq.sorted.map { f =>
            files.get(f) match {
              case Some(cs) => s"listed but reached, delete its line: $f (reached: ${dotted(cs.filter(reached))})"
              case None => s"listed but gone, delete its line: $f (no main class compiles from it)"
            }
          }
      if (problems.nonEmpty) fail(problems.mkString(s"$ListResource differs from the tree:\n", "\n", ""))
    }

    it("resolve every root, the perfbench imports included, to a main class") {
      Seq("graft/app/Main", "graft/Bench", "graft/Verify").foreach(r => classes.keySet should contain(r))
      classes.keySet.exists(_.startsWith("graft/tools/")) shouldBe true
      val imports = perfbenchImports()
      imports should not be empty
      val unresolved = imports.filter(i => resolveDotted(i, classes.keySet).isEmpty)
      withClue(s"perfbench imports naming no main class: $unresolved") { unresolved shouldBe empty }
    }
  }
}

object ReachabilitySpec {
  val ListResource = "src/test/resources/unreached_main_files.txt"

  /** One compiled class: its internal name, its source file relative to
    * the checkout, and the internal names it refers to. */
  final case class MainClass(name: String, file: String, refs: Set[String])

  private val DescriptorType = """L([\w/$]+)[;<]""".r
  private val DottedName = """[A-Za-z_$][\w$]*(?:\.[A-Za-z_$][\w$]*)+""".r

  /** Every class in the directory `graft.app.Config` was loaded from. */
  def readMainClasses(): Map[String, MainClass] = {
    val stream = Files.walk(Paths.get(classOf[graft.app.Config].getProtectionDomain.getCodeSource.getLocation.toURI))
    try stream.iterator.asScala.filter(_.toString.endsWith(".class")).map(p => readClass(Files.readAllBytes(p)))
      .map(c => c.name -> c).toMap
    finally stream.close()
  }

  private def readClass(bytes: Array[Byte]): MainClass = {
    val reader = new ClassReader(bytes)
    val buf = new Array[Char](reader.getMaxStringLength)
    val refs = Set.newBuilder[String]
    for (i <- 1 until reader.getItemCount; at = reader.getItem(i) if at > 0) reader.readByte(at - 1) match {
      case 1 => // Utf8: descriptors, signatures and constant texts
        val s = new String(reader.readBytes(at + 2, reader.readUnsignedShort(at)), UTF_8)
        DescriptorType.findAllMatchIn(s).foreach(m => refs += m.group(1))
      case 7 => // Class: an internal name, or an array descriptor the Utf8 case reads
        val c = reader.readUTF8(at, buf)
        if (!c.startsWith("[")) refs += c
      case 8 => DottedName.findAllIn(reader.readUTF8(at, buf)).foreach(refs += _)
      case _ =>
    }
    var source = Option.empty[String]
    reader.accept(new ClassVisitor(Opcodes.ASM9) {
      override def visitSource(file: String, debug: String): Unit = source = Option(file)
    }, ClassReader.SKIP_CODE | ClassReader.SKIP_FRAMES)
    val name = reader.getClassName
    val pkg = name.lastIndexOf('/') match { case -1 => ""; case i => name.take(i + 1) }
    MainClass(name, s"src/main/scala/$pkg${source.getOrElse(sys.error(s"$name has no SourceFile attribute"))}",
      refs.result())
  }

  /** The main classes a dotted name may denote: each package/class split
    * of it, nested members joined with `$`, each also as a module. */
  def resolveDotted(dotted: String, known: Set[String]): Set[String] = {
    val parts = dotted.split('.').toIndexedSeq
    (for {
      k <- 1 to parts.size
      j <- k to parts.size
      base = parts.take(k).mkString("/") + parts.slice(k, j).map("$" + _).mkString
      c <- Seq(base, base + "$") if known(c)
    } yield c).toSet
  }

  def roots(classes: Map[String, MainClass]): Set[String] = {
    val known = classes.keySet
    val named = Seq("graft.app.Main", "graft.Bench", "graft.Verify") ++ perfbenchImports()
    named.flatMap(resolveDotted(_, known)).toSet ++ known.filter(_.startsWith("graft/tools/"))
  }

  def walk(classes: Map[String, MainClass], from: Set[String]): Set[String] = {
    val known = classes.keySet
    val seen = scala.collection.mutable.Set.empty[String] ++ from
    var frontier = from.toList
    while (frontier.nonEmpty) {
      val next = frontier.flatMap { c =>
        classes(c).refs.flatMap(r => if (r.contains('.')) resolveDotted(r, known) else Set(r).filter(known))
      }.filter(seen.add)
      frontier = next
    }
    seen.toSet
  }

  /** Each class named on an `import graft.…` line under `perfbench/src`,
    * as a dotted name (`import graft.a.{B, C => D}` names `graft.a.B` and
    * `graft.a.C`; a wildcard names its prefix). */
  def perfbenchImports(): Seq[String] = {
    val Import = """\s*import\s+(graft\.[\w.]*?)\.?(?:\{([^}]*)\}|(_)|)\s*""".r
    val stream = Files.walk(Paths.get("perfbench/src"))
    try stream.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(p => Files.readAllLines(p, UTF_8).asScala)
      .collect {
        case Import(prefix, null, _) => Seq(prefix)
        case Import(prefix, selectors, _) =>
          selectors.split(',').map(_.trim.split("=>").head.trim).filter(s => s.nonEmpty && s != "_")
            .map(s => s"$prefix.$s").toSeq
      }.flatten.distinct.sorted
    finally stream.close()
  }

  def committedList(): Set[String] =
    Files.readAllLines(Paths.get(ListResource), UTF_8).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSet
}
