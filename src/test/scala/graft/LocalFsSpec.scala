package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.util.ReflectionUtils
import org.apache.spark.sql.functions.{col, lit}

import graft.plans.AggRewrite

/** `Verify.session` binds `file:` to [[LocalFs]]: every route a Spark
  * job or our own code takes to the local filesystem reaches it, a
  * streaming commit, a parquet write and a manifest publish start no
  * `chmod`/`readlink`/`ls`/`stat` process, and the two overridden
  * calls keep Hadoop's observable behaviour. */
class LocalFsSpec extends SparkSuite {

  private def tmp(p: String): JPath = Files.createTempDirectory(p)
  private def hPath(p: JPath): Path = new Path(p.toUri)
  private def conf: Configuration = spark.sessionState.newHadoopConf()
  private def rwx(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def octal(s: String): FsPermission =
    new FsPermission(Integer.parseInt(s, 8).toShort)

  /** The command names (first word, without directory) of every process
    * the JVM starts while `body` runs, from an in-process JFR recording. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val file = Files.createTempFile("graft_localfs_", ".jfr")
      try {
        rec.dump(file)
        RecordingFile.readAllEvents(file).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command").trim.split("\\s+").head.split('/').last)
      } finally Files.deleteIfExists(file)
    } finally rec.close()
  }
  private val forking = Set("chmod", "readlink", "ls", "stat")

  /** The class `file:` resolves to without the binding. */
  private def stockFs: FileSystem = {
    val c = new Configuration()
    val fs = ReflectionUtils.newInstance(
      FileSystem.getFileSystemClass("file", c), c)
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  test("file: resolves to the fork-free classes on all three routes") {
    val viaPath = new Path("file:///tmp").getFileSystem(conf)
    assert(viaPath.getClass == classOf[LocalFs], viaPath.getClass)
    val local = FileSystem.getLocal(conf)
    assert(local.getClass == classOf[LocalFs], local.getClass)
    assert(local.getRaw.getClass == classOf[LocalFs.Raw], local.getRaw.getClass)
    val afs = FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem
    assert(afs.getClass == classOf[LocalFs.Checksummed], afs.getClass)
  }

  test("a stateful stream with a file sink, a partitioned parquet write " +
      "and a manifest publish start no chmod/readlink/ls/stat process") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp("graft_localfs_ops")
    val facts = s"$dir/facts"
    Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "v").write.parquet(facts)
    val source =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val starts = processStarts {
      val sq = source.toDF().dropDuplicates("value").writeStream
        .format("parquet").option("checkpointLocation", s"$dir/ckpt")
        .start(s"$dir/sink")
      try {
        source.addData(1, 2, 3)
        sq.processAllAvailable()
        source.addData(3, 4)
        sq.processAllAvailable()
        assert(sq.lastProgress.batchId == 1L, "two micro-batches expected")
      } finally sq.stop()
      Seq((1, "x"), (2, "y")).toDF("v", "k")
        .write.partitionBy("k").parquet(s"$dir/parts")
      AggRewrite.materialize(spark, "localfs_spec", spark.read.parquet(facts),
        keys = Seq("k" -> col("k")),
        measures = Seq(("v_sum", "sum", col("v")),
          ("cnt", "count_star", lit(1))),
        path = s"$dir/summary")
    }
    try {
      assert(spark.read.parquet(s"$dir/sink").count() == 4)
      assert(Files.isDirectory(dir.resolve("ckpt/state")))
      assert(Files.isDirectory(dir.resolve("parts/k=y")))
      assert(Files.isRegularFile(dir.resolve("summary/_graft_manifest.json")))
    } finally AggRewrite.unregister(spark, "localfs_spec")
    assert(starts.filter(forking).isEmpty,
      s"process starts: ${starts.groupBy(identity).view.mapValues(_.size).toMap}")
  }

  test("control: a stock RawLocalFileSystem.setPermission starts a chmod " +
      "here (or native libhadoop is loaded)") {
    val raw = new RawLocalFileSystem()
    raw.initialize(URI.create("file:///"), new Configuration())
    val f = Files.createFile(tmp("graft_localfs_control").resolve("f"))
    val starts = processStarts(raw.setPermission(hPath(f), octal("640")))
    assert(rwx(f) == "rw-r-----")
    assert(NativeIO.isAvailable || starts.contains("chmod"), starts)
  }

  test("new files and directories keep Hadoop's default modes after umask") {
    val dir = tmp("graft_localfs_modes")
    val fs = FileSystem.getLocal(conf)
    fs.mkdirs(hPath(dir.resolve("d")))
    fs.create(hPath(dir.resolve("f"))).close()
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    fc.mkdir(hPath(dir.resolve("fc_d")), FsPermission.getDirDefault, true)
    fc.create(hPath(dir.resolve("fc_f")),
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE)).close()
    Seq("d", "fc_d").foreach(d => assert(rwx(dir.resolve(d)) == "rwxr-xr-x", d))
    Seq("f", ".f.crc", "fc_f", ".fc_f.crc")
      .foreach(f => assert(rwx(dir.resolve(f)) == "rw-r--r--", f))
  }

  test("setPermission takes effect for 0700 and for sticky 01777") {
    val d = tmp("graft_localfs_perm").resolve("d")
    Files.createDirectory(d)
    val fs = FileSystem.getLocal(conf)
    fs.setPermission(hPath(d), octal("700"))
    assert(mode(d) == Integer.parseInt("700", 8), mode(d).toOctalString)
    fs.setPermission(hPath(d), octal("1777"))
    assert(mode(d) == Integer.parseInt("1777", 8), mode(d).toOctalString)
    assert(fs.getFileStatus(hPath(d)).getPermission == octal("1777"))
  }

  test("getFileLinkStatus answers as Hadoop's own local classes answer: " +
      "links stay links, missing paths stay missing") {
    val dir = tmp("graft_localfs_links")
    val target = Files.createFile(dir.resolve("target"))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def outcome(status: => FileStatus): String =
      try {
        val s = status
        s"link=${s.isSymlink} target=${if (s.isSymlink) s.getSymlink else ""}" +
          s" file=${s.isFile} len=${s.getLen} path=${s.getPath}"
      } catch { case e: FileNotFoundException => e.getClass.getSimpleName }
    val file = URI.create("file:///")
    val routes = Seq(
      ("FileSystem", FileSystem.getLocal(conf).getFileLinkStatus _,
        stockFs.getFileLinkStatus _),
      ("FileContext",
        FileContext.getFileContext(file, conf).getFileLinkStatus _,
        FileContext.getFileContext(file, new Configuration())
          .getFileLinkStatus _))
    for {
      (route, ours, stock) <- routes
      name <- Seq("link", "dangling", "target", "missing")
      p <- Seq(new Path(dir.resolve(name).toString), hPath(dir.resolve(name)))
    } assert(outcome(ours(p)) == outcome(stock(p)), s"$route $p")
    // unqualified paths (Hadoop's fallback resolves links only for these)
    val fs = FileSystem.getLocal(conf)
    val viaLink = fs.getFileLinkStatus(new Path(link.toString))
    assert(viaLink.isSymlink &&
      viaLink.getSymlink.toUri.getPath == target.toString, viaLink)
    assert(fs.getFileLinkStatus(new Path(s"$dir/dangling")).isSymlink)
    assert(!fs.getFileLinkStatus(hPath(target)).isSymlink)
    intercept[FileNotFoundException](
      fs.getFileLinkStatus(hPath(dir.resolve("missing"))))
  }

  test("rename keeps the contract of the class file: resolves to without " +
      "the binding") {
    def outcomes(fs: FileSystem): Seq[String] = {
      val dir = tmp("graft_localfs_rename")
      def file(name: String, body: String): Path = {
        val p = hPath(dir.resolve(name))
        val out = fs.create(p)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        p
      }
      def size(name: String): Long = {
        val p = dir.resolve(name)
        if (Files.exists(p)) Files.size(p) else -1L
      }
      val a = file("a", "A")
      val b = file("b", "B")
      val onto = fs.rename(a, b)
      val fresh = fs.rename(a, hPath(dir.resolve("c")))
      Files.createDirectory(dir.resolve("d"))
      val intoDir = fs.rename(hPath(dir.resolve("c")), hPath(dir.resolve("d")))
      Seq(s"onto=$onto fresh=$fresh intoDir=$intoDir",
        Seq("a", ".a.crc", "b", ".b.crc", "c", ".c.crc", "d/c", "d/.c.crc")
          .map(n => s"$n:${size(n)}").mkString(" "),
        Files.readString(dir.resolve("b")))
    }
    assert(outcomes(FileSystem.getLocal(conf)) == outcomes(stockFs))
  }
}
