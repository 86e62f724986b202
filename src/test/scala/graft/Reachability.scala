package graft

import org.apache.xbean.asm9.{ClassReader, Handle, Opcodes, Type}
import org.apache.xbean.asm9.tree.{ClassNode, FieldInsnNode, InvokeDynamicInsnNode, LdcInsnNode, LineNumberNode, MethodInsnNode, MethodNode, MultiANewArrayInsnNode, TypeInsnNode}

import java.io.{File, InputStream}
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Bytecode reachability over one directory of compiled classes, with the
  * ASM that Spark ships (`xbean-asm9-shaded`).
  *
  * The walk starts from roots and follows method, field and type
  * references, `LDC` class constants, the handle arguments of
  * `invokedynamic` (so lambda bodies are followed) and string constants
  * that name a class of the walked set, or `<object>$.MODULE$.<method>(`
  * the way generated Java calls a Scala object. The handles of Scala's
  * `LambdaDeserialize` bootstrap are not followed: it lists every lambda
  * of a class and would make all of them live.
  *
  * A reachable class keeps its constructors and its instance methods. An
  * `object`'s module class keeps only its initialisers and the methods
  * that override a supertype member; its other methods are reached one
  * by one. Static methods are reached one by one.
  */
object Reachability {

  /** A method of the walked set: internal class name, name, descriptor. */
  final case class Method(owner: String, name: String, desc: String)

  /** A declaration that nothing reached, at its source line. */
  final case class Unreached(file: String, line: Int, what: String) {
    override def toString: String = s"$file:$line $what"
  }

  /** A whole class (`member` None) or every method of one name in it.
    * `cls` is the binary name: `graft.IngestJob$` for an object. */
  final case class Root(cls: String, member: Option[String]) {
    def internal: String = cls.replace('.', '/')
    override def toString: String = cls + member.fold("")("#" + _)
  }

  object Root {
    /** `pkg.Cls` or `pkg.Cls#member`. */
    def parse(s: String): Root = s.split("#", 2) match {
      case Array(c, m) => Root(c, Some(m))
      case Array(c) => Root(c, None)
    }
  }

  final case class Result(methods: Set[Method], unreached: Seq[Unreached]) {
    /** Whether any method `name` of class `cls` (binary name) was reached. */
    def reached(cls: String, name: String): Boolean =
      methods.exists(m => m.owner == cls.replace('.', '/') && m.name == name)
  }

  private val LambdaDeserialize = "scala/runtime/LambdaDeserialize"
  private val ModuleCall = """([A-Za-z_][\w$.]*)\$\.MODULE\$\.([A-Za-z_][\w$]*)\(""".r
  private val DottedName = """[A-Za-z_][\w$]*(?:\.[A-Za-z_][\w$]*)+""".r
  // anonymous and local classes: reported through their enclosing method
  private val LocalClass = """\$(?:anon|\d)""".r
  private val ProductMembers = Set("productArity", "productElement", "productPrefix",
    "productIterator", "productElementName", "productElementNames", "canEqual",
    "equals", "hashCode", "toString", "copy")

  /** The `.class` files under `dir` whose internal name starts with `prefix`. */
  def load(dir: File, prefix: String = ""): Map[String, ClassNode] = {
    val walk = Files.walk(dir.toPath)
    try walk.iterator.asScala.filter(_.toString.endsWith(".class")).map { p =>
      val n = new ClassNode()
      new ClassReader(Files.readAllBytes(p)).accept(n, ClassReader.SKIP_FRAMES)
      n.name -> n
    }.filter(_._1.startsWith(prefix)).toMap
    finally walk.close()
  }

  /** Every `public static void main(String[])` of `classes`. */
  def mains(classes: Map[String, ClassNode]): Seq[Root] = for {
    c <- classes.values.toSeq
    m <- c.methods.asScala
    if m.name == "main" && m.desc == "([Ljava/lang/String;)V" && (m.access & Opcodes.ACC_STATIC) != 0
  } yield Root(c.name.replace('/', '.'), Some("main"))

  /** The classes named in `META-INF/services/` files under `dir`. */
  def services(dir: File): Seq[Root] =
    Option(new File(dir, "META-INF/services").listFiles()).toSeq.flatten.flatMap { f =>
      Files.readAllLines(f.toPath).asScala.map(_.replaceAll("#.*", "").trim).filter(_.nonEmpty)
    }.map(Root(_, None))

  /** Walk `classes` from `roots` and report, at their source lines under
    * `sourceRoot`, the declarations nothing reached. Fails on a root that
    * names no class or member of `classes`. */
  def walk(classes: Map[String, ClassNode], roots: Seq[Root], sourceRoot: File): Result =
    new Walk(classes).run(roots, sourceRoot)

  private final class Walk(classes: Map[String, ClassNode]) {
    private val liveClasses = mutable.Set.empty[String]
    private val liveMethods = mutable.Set.empty[Method]
    private val work = mutable.Queue.empty[MethodNode]

    // binary names with `.` and also with `$` read as `.`, as reflection spells them
    private val byDottedName: Map[String, String] = classes.keys.flatMap { n =>
      val dotted = n.replace('/', '.')
      Seq(dotted -> n) ++ Some(dotted.replace('$', '.')).filterNot(_.endsWith(".")).map(_ -> n)
    }.toMap

    private def isModule(c: ClassNode): Boolean =
      c.name.endsWith("$") && c.fields.asScala.exists(f =>
        f.name == "MODULE$" && (f.access & Opcodes.ACC_STATIC) != 0)

    private def isStatic(m: MethodNode) = (m.access & Opcodes.ACC_STATIC) != 0

    // ---- supertypes, read from the walked set or else from the classpath

    private val libraryCache = mutable.Map.empty[String, Option[ClassNode]]

    private def node(name: String): Option[ClassNode] = classes.get(name).orElse(
      libraryCache.getOrElseUpdate(name, {
        val in: InputStream = Option(getClass.getClassLoader)
          .flatMap(l => Option(l.getResourceAsStream(name + ".class")))
          .orElse(Option(ClassLoader.getSystemResourceAsStream(name + ".class")))
          .orNull
        Option(in).map { s =>
          try {
            val n = new ClassNode()
            new ClassReader(s).accept(n, ClassReader.SKIP_CODE)
            n
          } finally s.close()
        }
      }))

    private def supertypes(c: ClassNode): Seq[String] =
      Option(c.superName).toSeq ++ c.interfaces.asScala

    private val inheritedCache = mutable.Map.empty[String, Set[(String, String)]]

    /** The overridable (name, desc) pairs that `c`'s proper supertypes declare. */
    private def inherited(c: ClassNode): Set[(String, String)] =
      inheritedCache.getOrElseUpdate(c.name, supertypes(c).flatMap(node).flatMap { s =>
        s.methods.asScala.filter(m => !isStatic(m) && (m.access & Opcodes.ACC_PRIVATE) == 0 &&
          m.name != "<init>").map(m => (m.name, m.desc)) ++ inherited(s)
      }.toSet)

    // ---- marking

    private def markMethod(c: ClassNode, m: MethodNode): Unit =
      if (liveMethods.add(Method(c.name, m.name, m.desc))) {
        markClass(c.name)
        work.enqueue(m)
      }

    private def markClass(name: String): Unit = classes.get(name) match {
      case Some(c) if liveClasses.add(name) =>
        supertypes(c).foreach(markClass)
        val keep: MethodNode => Boolean =
          if (isModule(c)) {
            val over = inherited(c)
            m => m.name.startsWith("<") || over((m.name, m.desc))
          } else m => m.name.startsWith("<") || !isStatic(m)
        c.methods.asScala.filter(keep).foreach(markMethod(c, _))
      case _ =>
    }

    private def markType(t: Type): Unit = t.getSort match {
      case Type.ARRAY => markType(t.getElementType)
      case Type.OBJECT => markClass(t.getInternalName)
      case Type.METHOD => (t.getArgumentTypes :+ t.getReturnType).foreach(markType)
      case _ =>
    }

    private def markDesc(desc: String): Unit = markType(Type.getType(desc))

    /** A call to `owner.name desc`: the declaration it resolves to, in
      * `owner` or the nearest walked supertype that declares it. */
    private def markCall(owner: String, name: String, desc: String): Unit = {
      markType(if (owner.startsWith("[")) Type.getType(owner) else Type.getObjectType(owner))
      markDesc(desc)
      def resolve(cls: String): Boolean = classes.get(cls).exists { c =>
        c.methods.asScala.find(m => m.name == name && m.desc == desc) match {
          case Some(m) => markMethod(c, m); true
          case None => supertypes(c).exists(resolve)
        }
      }
      resolve(owner)
    }

    private def markString(s: String): Unit = {
      for (m <- ModuleCall.findAllMatchIn(s); c <- byDottedName.get(m.group(1) + "$").flatMap(classes.get))
        c.methods.asScala.filter(_.name == m.group(2)).foreach(markMethod(c, _))
      for (t <- DottedName.findAllIn(s)) {
        val parts = t.split('.')
        (2 to parts.length).flatMap(k => byDottedName.get(parts.take(k).mkString("."))).foreach(markClass)
      }
    }

    private def markConstant(v: Any): Unit = v match {
      case t: Type => markType(t)
      case s: String => markString(s)
      case h: Handle => markCall(h.getOwner, h.getName, h.getDesc)
      case _ =>
    }

    private def scan(m: MethodNode): Unit = {
      markDesc(m.desc)
      m.tryCatchBlocks.asScala.flatMap(b => Option(b.`type`)).foreach(markClass)
      m.instructions.iterator.asScala.foreach {
        case i: MethodInsnNode => markCall(i.owner, i.name, i.desc)
        case i: FieldInsnNode =>
          markType(Type.getObjectType(i.owner)); markDesc(i.desc)
        case i: TypeInsnNode => markType(Type.getObjectType(i.desc))
        case i: MultiANewArrayInsnNode => markDesc(i.desc)
        case i: LdcInsnNode => markConstant(i.cst)
        case i: InvokeDynamicInsnNode =>
          markDesc(i.desc)
          if (i.bsm.getOwner != LambdaDeserialize) i.bsmArgs.foreach(markConstant)
        case _ =>
      }
    }

    private def markRoot(r: Root): Unit = {
      val c = classes.getOrElse(r.internal, throw new IllegalArgumentException(s"root $r: no such class"))
      r.member match {
        case None => markClass(c.name)
        case Some(name) =>
          val ms = c.methods.asScala.filter(_.name == name)
          require(ms.nonEmpty, s"root $r: no such member")
          ms.foreach(markMethod(c, _))
      }
    }

    def run(roots: Seq[Root], sourceRoot: File): Result = {
      roots.foreach(markRoot)
      while (work.nonEmpty) scan(work.dequeue())
      Result(liveMethods.toSet, report(sourceRoot))
    }

    // ---- the report, at the source level

    /** A case class: scalac gives each one a `productElement`. */
    private def isCaseClass(name: String): Boolean =
      classes.get(name).exists(_.methods.asScala.exists(_.name == "productElement"))

    /** Members the compiler writes, not the programmer: bridges and
      * synthetics, `$`-named helpers (lambda bodies, default arguments,
      * lifted local defs, trait bodies), static forwarders, and the
      * case-class and serialisation members. */
    private def compilerMade(c: ClassNode, m: MethodNode): Boolean = {
      val module = c.name + "$"
      (m.access & (Opcodes.ACC_BRIDGE | Opcodes.ACC_SYNTHETIC)) != 0 ||
        m.name.contains("$") || m.name == "<clinit>" ||
        m.name == "writeReplace" || m.name == "readResolve" ||
        (isStatic(m) && classes.get(module).exists(_.methods.asScala.exists(_.name == m.name))) ||
        (isModule(c) && m.name == "<init>") ||
        (isModule(c) && isCaseClass(c.name.dropRight(1)) && Set("apply", "unapply", "toString")(m.name)) ||
        (isCaseClass(c.name) && ProductMembers(m.name))
    }

    private def firstLine(m: MethodNode): Option[Int] =
      m.instructions.iterator.asScala.collect { case l: LineNumberNode => l.line }.minOption

    private def sourcePath(c: ClassNode, sourceRoot: File): String = {
      val pkg = c.name.lastIndexOf('/') match { case -1 => "" case i => c.name.take(i + 1) }
      val file = Option(c.sourceFile).getOrElse("?")
      val where = new File(sourceRoot, pkg + file)
      val root = SourceTree.root.toPath
      val found = if (where.isFile) Some(where.toPath) else {
        val walk = Files.walk(sourceRoot.toPath)
        try walk.iterator.asScala.find(_.getFileName.toString == file) finally walk.close()
      }
      found.map(p => root.relativize(p.toAbsolutePath).toString).getOrElse(pkg + file)
    }

    private def report(sourceRoot: File): Seq[Unreached] = (for {
      c <- classes.values.toSeq
      if LocalClass.findFirstIn(c.name.substring(c.name.lastIndexOf('/') + 1)).isEmpty
      m <- c.methods.asScala
      if !liveMethods(Method(c.name, m.name, m.desc)) && !compilerMade(c, m)
      line <- firstLine(m)
    } yield {
      val cls = c.name.replace('/', '.')
      Unreached(sourcePath(c, sourceRoot), line, if (m.name == "<init>") s"class $cls" else s"$cls.${m.name}")
    }).distinct.sortBy(u => (u.file, u.line, u.what))
  }
}
