package graft.sources

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{LocalFileSystem => HadoopLocalFileSystem}

import graft.{Probe, SessionDefaults, SparkEntry, SparkTestBase}
import graft.star.StarBuilder

/** Pins the fork-free local filesystem: the session resolves both Hadoop
  * APIs to [[LocalFs]], which writes the same modes and `.crc` sidecars as
  * Hadoop's own, and a streaming drain or star pipeline launches no OS
  * process from engine code or from Hadoop's filesystem layer.
  */
class LocalFsSpec extends SparkTestBase {
  private val sfDir = "/root/testdata/sf0.001"
  private val root = new URI("file:///")

  private def mode(p: Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p.toUri)))

  test("the session resolves the file scheme to LocalFs for FileSystem and FileContext") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(root, conf).getClass == classOf[LocalFs.Checksummed])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[LocalFs.Raw])
    assert(AbstractFileSystem.get(root, conf).getClass == classOf[LocalFs.Context])
  }

  test("mkdirs and create give the same modes and .crc sidecars as Hadoop's local FS") {
    val conf = spark.sessionState.newHadoopConf()
    val ours = FileSystem.get(root, conf)
    val stock = new HadoopLocalFileSystem()
    stock.initialize(root, conf)
    val base = new Path(Files.createTempDirectory("graft_localfs").toUri)
    val cases: Seq[(String, Option[FsPermission])] =
      Seq("default" -> None, "0700" -> Some(new FsPermission(java.lang.Short.parseShort("700", 8))),
        "0644" -> Some(new FsPermission(java.lang.Short.parseShort("644", 8))))
    def layout(fs: FileSystem, side: String): Seq[String] = cases.flatMap { case (tag, perm) =>
      val dir = new Path(base, s"$side/$tag")
      perm.fold(fs.mkdirs(dir))(fs.mkdirs(dir, _))
      val file = new Path(dir, "part")
      val out = perm.fold(fs.create(file))(
        fs.create(file, _, true, 4096, fs.getDefaultReplication(file), fs.getDefaultBlockSize(file), null))
      out.write(Array[Byte](1, 2, 3))
      out.close()
      val crc = new Path(dir, ".part.crc")
      assert(Files.exists(Paths.get(crc.toUri)), s"$side/$tag: no .crc sidecar beside $file")
      Seq(s"$tag dir ${mode(dir)}", s"$tag file ${mode(file)}", s"$tag crc ${mode(crc)}")
    }
    val got = layout(ours, "ours")
    assert(got == layout(stock, "stock"))
    assert(got.contains("0700 dir rwx------") && got.contains("0644 file rw-r--r--"), got)
  }

  test("a FileContext rename moves the .crc sidecar with its file") {
    val fc = FileContext.getFileContext(root, spark.sessionState.newHadoopConf())
    val dir = new Path(Files.createTempDirectory("graft_localfs_fc").toUri)
    val src = new Path(dir, "a.tmp")
    val out = fc.create(src, EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
    out.write(Array[Byte](1, 2, 3))
    out.close()
    fc.rename(src, new Path(dir, "a"), Options.Rename.OVERWRITE)
    val names = Files.list(Paths.get(dir.toUri)).toArray.map(_.toString.split('/').last).toSet
    assert(names == Set("a", ".a.crc"))
  }

  test("stream drains and the star pipeline launch no process from graft or Hadoop's FS layer") {
    assume(Files.exists(Paths.get(s"$sfDir/documents.parquet")))
    val (_, launched) = Probe.launches {
      Seq("q213_txtable_ingest_stream", "q238_txtable_sink_stream").foreach { q =>
        SessionDefaults.timedRun(spark, sfDir, SparkEntry.queries(q))._2.get
      }
      StarBuilder.runPipeline(spark, fixturePath("kickstarter_fixture.csv"),
        Files.createTempDirectory("graft_localfs_star").toString)
    }
    val ours = launched.filter(_.frames.exists(f =>
      f.startsWith("graft.") || f.startsWith("org.apache.hadoop.fs.")))
    if (ours.nonEmpty) fail(s"${ours.size} launches, first ${ours.head.thread}: " +
      s"${ours.head.command}\n  ${ours.head.frames.take(24).mkString("\n  ")}\n" +
      ours.groupBy(_.command.takeWhile(_ != ' ')).map { case (c, ls) => s"$c x${ls.size}" }.mkString(", "))
  }
}
