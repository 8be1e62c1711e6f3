package graft

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LocalFs

/** [[LocalFs]] against Hadoop's stock `org.apache.hadoop.fs.local.LocalFs`:
  * the same script of `FileContext` calls runs on both, in separate
  * directories, and every observation (outcome or exception class,
  * permission bits, directory listing with `.crc` sidecars, contents)
  * must match. The stream checkpoint path uses exactly these calls.
  */
class LocalFsSpec extends AnyFunSuite {

  private val ImplKey = "fs.AbstractFileSystem.file.impl"

  private def context(graft: Boolean): FileContext = {
    val conf = new Configuration()
    if (graft) conf.set(ImplKey, classOf[LocalFs].getName)
    val fc = FileContext.getFileContext(new java.net.URI("file:///"), conf)
    val expected = if (graft) "graft.sources.LocalFs" else "org.apache.hadoop.fs.local.LocalFs"
    assert(fc.getDefaultFileSystem.getClass.getName == expected)
    fc
  }

  /** A fresh directory under the JVM's scratch root (removed at exit). */
  private def scratch(tag: String): JPath = Files.createDirectories(java.nio.file.Paths.get(
    graft.operators.Materialize.jvmScratch(s"$tag-${java.util.UUID.randomUUID()}")))

  private def attempt(label: String)(f: => Any): String =
    try s"$label: ${f}" catch { case e: IOException => s"$label: ${e.getClass.getName}" }

  private def perms(p: JPath): String =
    if (Files.exists(p)) PosixFilePermissions.toString(Files.getPosixFilePermissions(p)) else "-"

  private def listing(dir: JPath): String =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted.mkString(",")

  private def write(fc: FileContext, p: Path, text: String, overwrite: Boolean): Unit = {
    val flags = if (overwrite) EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
      else EnumSet.of(CreateFlag.CREATE)
    val out = fc.create(p, flags, Options.CreateOpts.createParent())
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** The calls a stream checkpoint makes: directories, files, renames
    * with and without overwrite, and lookups of missing paths. */
  private def checkpointCalls(fc: FileContext, root: JPath): Seq[String] = {
    val d = new Path(root.toUri.toString, "d")
    def f(n: String) = new Path(d, n)
    val dir = root.resolve("d")
    Seq(
      attempt("mkdir")(fc.mkdir(d, new FsPermission("755"), true)),
      attempt("mkdir again")(fc.mkdir(d, new FsPermission("755"), true)),
      s"dir perms ${perms(dir)}",
      attempt("create a")(write(fc, f("a"), "alpha", overwrite = false)),
      attempt("create b")(write(fc, f("b"), "beta", overwrite = false)),
      attempt("create a again")(write(fc, f("a"), "x", overwrite = false)),
      s"file perms ${perms(dir.resolve("a"))} crc ${perms(dir.resolve(".a.crc"))}",
      attempt("rename a c")(fc.rename(f("a"), f("c"))),
      attempt("rename b c")(fc.rename(f("b"), f("c"))),
      s"listing ${listing(dir)}",
      attempt("rename b c overwrite")(fc.rename(f("b"), f("c"), Options.Rename.OVERWRITE)),
      s"listing ${listing(dir)}",
      attempt("read c")(read(fc, f("c"))),
      attempt("rename missing")(fc.rename(f("missing"), f("e"))),
      attempt("status missing")(fc.getFileStatus(f("missing"))),
      attempt("link status missing")(fc.getFileLinkStatus(f("missing"))),
      attempt("open missing")(fc.open(f("missing"))),
      attempt("exists c")(fc.util.exists(f("c"))),
      attempt("link status c") {
        val s = fc.getFileLinkStatus(f("c"))
        (s.isFile, s.isSymlink, s.getLen)
      },
      attempt("chmod c")(fc.setPermission(f("c"), new FsPermission("640"))),
      s"chmod perms ${perms(dir.resolve("c"))}",
      // the class differs (Hadoop: chmod's exit code, or libhadoop's
      // errno; LocalFs: FileNotFoundException): compare that it fails
      s"chmod missing fails ${
        try { fc.setPermission(f("missing"), new FsPermission("640")); false }
        catch { case _: IOException => true }
      }",
      attempt("overwrite c")(write(fc, f("c"), "gamma", overwrite = true)),
      attempt("read c")(read(fc, f("c"))),
      s"crc ${java.util.HexFormat.of.formatHex(Files.readAllBytes(dir.resolve(".c.crc")))}",
      attempt("delete c")(fc.delete(f("c"), false)),
      s"listing ${listing(dir)}")
  }

  /** Symbolic links (made with `java.nio`) and a sticky bit. */
  private def linkCalls(fc: FileContext, root: JPath): Seq[String] = {
    val dir = Files.createDirectories(root.resolve("l"))
    val d = new Path(root.toUri.toString, "l")
    def f(n: String) = new Path(d, n)
    write(fc, f("t"), "target", overwrite = false)
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("t"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("nothing"))
    val out = Seq(
      attempt("link status link") {
        val s = fc.getFileLinkStatus(f("link"))
        (s.isFile, s.isSymlink, s.getLen)
      },
      attempt("status link")(fc.getFileStatus(f("link")).getLen),
      attempt("read link")(read(fc, f("link"))),
      attempt("link status dangling")(fc.getFileLinkStatus(f("dangling")).isSymlink),
      attempt("status dangling")(fc.getFileStatus(f("dangling"))),
      attempt("chmod link")(fc.setPermission(f("link"), new FsPermission("600"))),
      s"target perms ${perms(dir.resolve("t"))}",
      attempt("sticky dir") {
        fc.mkdir(f("s"), FsPermission.getDirDefault, false)
        fc.setPermission(f("s"), new FsPermission("1777"))
        fc.getFileStatus(f("s")).getPermission.getStickyBit
      })
    out
  }

  /** `jdk.ProcessStart` events this thread records while `body` runs. */
  private def processStarts(body: => Unit): Int = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("localfs-spec", ".jfr")
    try {
      rec.dump(file)
      val me = Thread.currentThread().getId
      RecordingFile.readAllEvents(file).asScala.count { e =>
        e.getEventType.getName == "jdk.ProcessStart" &&
        e.getThread != null && e.getThread.getJavaThreadId == me
      }
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  test("LocalFs matches Hadoop's LocalFs: files, dirs, renames, links, missing paths, .crc") {
    val stockRoot = scratch("localfs-stock")
    val graftRoot = scratch("localfs-graft")
    val stock = checkpointCalls(context(graft = false), stockRoot) ++
      linkCalls(context(graft = false), stockRoot)
    val ours = checkpointCalls(context(graft = true), graftRoot) ++
      linkCalls(context(graft = true), graftRoot)
    stock.zip(ours).foreach { case (s, o) => assert(o == s) }
    assert(ours.size == stock.size)
    // the script does reach the cases it is meant to compare
    assert(stock.contains("rename b c: org.apache.hadoop.fs.FileAlreadyExistsException"))
    assert(stock.contains("status missing: java.io.FileNotFoundException"))
    assert(stock.contains("read c: gamma"))
    assert(stock.contains("file perms rw-r--r-- crc rw-r--r--"))
    assert(stock.contains("listing .c.crc,c"))
    assert(stock.exists(_.startsWith("crc 637263")), stock) // the "crc" magic
  }

  test("LocalFs starts no process for the checkpoint calls; Hadoop's LocalFs does") {
    val stock = context(graft = false)
    val ours = context(graft = true)
    val stockRuns = processStarts(checkpointCalls(stock, scratch("localfs-stock")))
    val ourRuns = processStarts(checkpointCalls(ours, scratch("localfs-graft")))
    assert(ourRuns == 0, s"LocalFs started $ourRuns processes")
    // without libhadoop the stock filesystem shells out for chmod and
    // readlink: this shows the recording sees those process starts
    if (!NativeCodeLoader.isNativeCodeLoaded) assert(stockRuns > 10, s"stock started $stockRuns")
  }
}
