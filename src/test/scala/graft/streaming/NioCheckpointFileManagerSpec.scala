package graft.streaming

import java.io.{File, FileNotFoundException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}

import graft.SparkSpec
import graft.adsb.Sbs

/** The nio checkpoint manager keeps Spark's `CheckpointFileManager`
  * contract, reads checkpoints Spark's default manager wrote, and
  * leaves no Hadoop side file in the checkpoints [[AdsbStream]]
  * writes. */
class NioCheckpointFileManagerSpec extends SparkSpec {

  import spark.implicits._

  private def manager(dir: JPath) =
    new NioCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(fm: NioCheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: NioCheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: JPath): Set[String] =
    Option(dir.toFile.list).toSet.flatten

  test("createAtomic renames on close and does not clobber without overwrite") {
    val dir = Files.createTempDirectory("graft-nio-atomic")
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString, "0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("first".getBytes(UTF_8))
    // until the close only the hidden temp file exists
    assert(!fm.exists(p))
    assert(names(dir).forall(n => n.startsWith(".0.") && n.endsWith(".tmp")))
    out.close()
    assert(read(fm, p) === "first")
    assert(names(dir) === Set("0"))
    intercept[FileAlreadyExistsException](
      write(fm, p, "second", overwrite = false))
    assert(read(fm, p) === "first")
    assert(names(dir) === Set("0"))
    // a replaced file takes Hadoop's side file of the old one along
    Files.write(dir.resolve(".0.crc"), Array[Byte](1))
    write(fm, p, "third", overwrite = true)
    assert(read(fm, p) === "third")
    assert(names(dir) === Set("0"))
  }

  test("cancel leaves neither the target nor a temp file") {
    val dir = Files.createTempDirectory("graft-nio-cancel")
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString, "1.delta")
    val out = fm.createAtomic(p, overwriteIfPossible = true)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close()
    assert(!fm.exists(p))
    assert(names(dir).isEmpty)
  }

  test("list hides Hadoop's side files but shows Spark's checksum files") {
    val dir = Files.createTempDirectory("graft-nio-list")
    val fm = manager(dir)
    for (n <- Seq("1.delta", "1.delta.crc", ".1.delta.crc", ".1.delta.crc.crc"))
      Files.write(dir.resolve(n), n.getBytes(UTF_8))
    Files.createDirectory(dir.resolve("sub"))
    val base = new Path(dir.toUri.toString)
    val listed = fm.list(base)
    assert(listed.map(_.getPath.getName).toSet ===
      Set("1.delta", "1.delta.crc", "sub"))
    val delta = listed.find(_.getPath.getName == "1.delta").get
    assert(delta.getLen === "1.delta".length && !delta.isDirectory)
    assert(delta.getPath === new Path(base, "1.delta"))
    assert(listed.find(_.getPath.getName == "sub").get.isDirectory)
    assert(fm.list(base, (p: Path) => p.getName.endsWith(".crc"))
      .map(_.getPath.getName).toSeq === Seq("1.delta.crc"))
    intercept[FileNotFoundException](fm.list(new Path(base, "missing")))
  }

  test("open, exists, delete and mkdirs work on local paths") {
    val dir = Files.createTempDirectory("graft-nio-ops")
    val fm = manager(dir)
    val base = new Path(dir.toUri.toString)
    val nested = new Path(base, "a/b")
    fm.mkdirs(nested)
    assert(fm.exists(nested) && Files.isDirectory(dir.resolve("a/b")))
    val f = new Path(nested, "0")
    write(fm, f, "0123456789", overwrite = false)
    val in = fm.open(f)
    try {
      in.seek(4)
      assert(in.read() === '4')
      assert(in.getPos === 5)
      val buf = new Array[Byte](3)
      in.readFully(1, buf)
      assert(new String(buf, UTF_8) === "123")
    } finally in.close()
    intercept[FileNotFoundException](fm.open(new Path(nested, "missing")))
    // deleting a file takes its Hadoop side file along
    Files.write(dir.resolve("a/b/.0.crc"), Array[Byte](1))
    fm.delete(f)
    assert(!fm.exists(f) && names(dir.resolve("a/b")).isEmpty)
    write(fm, f, "x", overwrite = false)
    fm.delete(new Path(base, "a"))
    assert(!fm.exists(nested) && names(dir).isEmpty)
    fm.delete(new Path(base, "a"))
    assert(fm.isLocal)
    assert(fm.createCheckpointDirectory() ===
      new Path("file", null, dir.toAbsolutePath.toString))
  }

  test("a path outside the local file system gets Spark's own manager") {
    val conf = new Configuration()
    // set as a query's conf would have it: the delegate must not
    // build this manager again
    conf.set(NioCheckpointFileManager.Key,
      classOf[NioCheckpointFileManager].getName)
    val fm = new NioCheckpointFileManager(
      new Path("hdfs://localhost:1/ckpt"), conf)
    assert(!fm.isLocal)
    fm.close()
  }

  /** Runs [[AdsbStream.start]] over the drop directory `drop`, then
    * over each of `chunks`, one micro-batch each. */
  private def runStart(drop: JPath, chunks: Seq[Seq[String]],
      outDir: String, ckpt: String): Unit = {
    val q = AdsbStream.start(
      AdsbStream.fileLines(spark, drop.toString), outDir, ckpt)
    try {
      q.processAllAvailable()
      for (c <- chunks) {
        val f = Files.write(Files.createTempFile("graft-nio", ".txt"),
          c.mkString("\n").getBytes(UTF_8))
        Files.move(f, drop.resolve(s"chunk-${names(drop).size}.txt"),
          StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
      }
    } finally q.stop()
  }

  private def goldenChunks: Seq[Seq[String]] = {
    val raw = Sbs.fixtureLines(spark, "adsb_golden_landings.txt")
      .select("value").as[String].collect().toSeq
    val (a, b) = raw.partition(l => l.contains("AAA111") || l.contains("BBB222"))
    Seq(a, b)
  }

  private def files(root: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new File(root))
  }

  private def hadoopSideFiles(root: String): Seq[String] =
    files(root).map(_.getName)
      .filter(n => n.startsWith(".") && n.endsWith(".crc"))

  test("start() writes no Hadoop side file and two files per state version") {
    val outDir = Files.createTempDirectory("graft-nio-out").toString
    val ckpt = Files.createTempDirectory("graft-nio-ckpt").toString
    val key = NioCheckpointFileManager.Key
    assert(spark.conf.getOption(key).isEmpty)
    val chunks = goldenChunks
    runStart(Files.createTempDirectory("graft-nio-in"),
      chunks :+ chunks.head.take(5), outDir, ckpt)
    assert(spark.conf.getOption(key).isEmpty)
    assert(hadoopSideFiles(ckpt).isEmpty)
    // the file source's log is the query's too
    assert(new File(ckpt, "sources/0/0").exists)
    val partitions = new File(ckpt, "state/0").listFiles
      .filter(d => d.isDirectory && d.getName.forall(_.isDigit))
    assert(partitions.nonEmpty)
    for (d <- partitions) {
      val names = d.listFiles.filter(_.isFile).map(_.getName).toSet
      val versions = names.map(_.takeWhile(_.isDigit))
      assert(versions.nonEmpty && versions.forall(_.nonEmpty), names)
      assert(names ===
        versions.flatMap(v => Set(s"$v.delta", s"$v.delta.crc")))
    }
    // the caller's own value comes back as it was
    val sparks = "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileContextBasedCheckpointFileManager"
    spark.conf.set(key, sparks)
    try {
      runStart(Files.createTempDirectory("graft-nio-in"), Seq(chunks.head),
        outDir, Files.createTempDirectory("graft-nio-ckpt2").toString)
      assert(spark.conf.get(key) === sparks)
    } finally spark.conf.unset(key)
  }

  test("start() restarts a checkpoint in Spark's default layout unchanged") {
    val outDir = Files.createTempDirectory("graft-nio-compat-out").toString
    val ckpt = Files.createTempDirectory("graft-nio-compat-ckpt").toString
    val tables = Seq("positions", "flights", "landings", "takeoffs")
    def snapshot() = tables.map { t =>
      t -> (if (!Option(new File(s"$outDir/$t").listFiles)
          .exists(_.exists(_.isDirectory))) Seq.empty
        else spark.read.parquet(s"$outDir/$t").collect().toSeq)
    }.toMap
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "false")
    try {
      val drop = Files.createTempDirectory("graft-nio-compat-in")
      runStart(drop, goldenChunks, outDir, ckpt)
      val before = snapshot()
      assert(Seq("positions", "landings", "takeoffs")
        .forall(before(_).nonEmpty))
      // rewrite every checkpoint file through Hadoop's checksummed
      // local file system: the layout Spark's default manager leaves,
      // a `.crc` side file next to each file
      val local = FileSystem.getLocal(new Configuration())
      for (f <- files(ckpt)) {
        val bytes = Files.readAllBytes(f.toPath)
        val out = local.create(new Path(f.toURI), true)
        try out.write(bytes) finally out.close()
      }
      val sides = hadoopSideFiles(ckpt)
      assert(sides.contains(".1.crc") && sides.contains(".1.delta.crc.crc"))
      // replay the last epoch from the old layout
      val commits = new File(ckpt, "commits")
      Seq("1", ".1.crc").foreach(n => assert(new File(commits, n).delete()))
      runStart(drop, Nil, outDir, ckpt)
      assert(new File(commits, "1").exists)
      val after = snapshot()
      for (t <- tables) {
        assert(after(t).size === before(t).size, t)
        assert(after(t).diff(before(t)).isEmpty, t)
        assert(after(t).distinct.size === after(t).size, s"$t duplicates")
      }
      // no side file went stale: Hadoop's checksummed reader still
      // verifies every file, rewritten ones included
      for (f <- files(ckpt) if !f.getName.startsWith(".")) {
        val in = local.open(new Path(f.toURI))
        try in.readAllBytes() finally in.close()
      }
    } finally spark.conf.unset(key)
  }
}
