package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.{col, sum}
import scala.jdk.CollectionConverters._
import graft.operators.{LocalFs, StoreFs}
import graft.similarity.Similarity
import graft.sources.TableCatalog

/** The file:// filesystem [[Engine.session]] installs: no subprocess per
  * written or fingerprinted file, and the same bytes, permission bits
  * and checksums as Hadoop's own `LocalFileSystem`. */
class LocalFsSpec extends SparkSpec {

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  private def perms(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def tree(root: String): List[JPath] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.toList finally walk.close()
  }

  test("file:// writes, fingerprints and leases fork no subprocess") {
    val root = tmp("graft_localfs_forks")
    val df = spark.range(0, 200).selectExpr("id", "id % 7 as part")
    // Hadoop Shell's one-time static probes fork; keep them outside the window
    df.write.partitionBy("part").parquet(s"$root/warm")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      df.write.partitionBy("part").parquet(s"$root/timed")
      assert(StoreFs.fingerprint(spark, s"$root/timed") != "absent")
      assert(StoreFs.acquireLease(spark, s"$root/lease", "spec", 60000L))
      StoreFs.releaseLease(spark, s"$root/lease")
    } finally rec.stop()
    val dump = Files.createTempFile("graft_localfs", ".jfr")
    rec.dump(dump)
    rec.close()
    val forks = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    Files.delete(dump)
    assert(forks.isEmpty, s"${forks.size} subprocesses, e.g. ${forks.take(3)}")
    // a plain LocalFileSystem cached before the session existed would
    // shadow the configured class for the whole JVM
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass === classOf[LocalFs])
  }

  test("parquet writes keep Hadoop's modes and .crc sidecars; corruption still fails the read") {
    val root = tmp("graft_localfs_perms")
    val out = s"$root/t"
    spark.range(0, 300).selectExpr("id", "id % 3 as part")
      .write.partitionBy("part").parquet(out)
    val (dirs, files) = tree(out).partition(Files.isDirectory(_))
    assert(dirs.size === 4 && files.nonEmpty)
    dirs.foreach(d => assert(perms(d) === "rwxr-xr-x", d))
    files.foreach(f => assert(perms(f) === "rw-r--r--", f))
    val data = files.filter(_.getFileName.toString.endsWith(".parquet"))
    assert(data.size >= 3)
    data.foreach { f =>
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), s"no .crc for $f")
    }
    val victim = data.head
    val bytes = Files.readAllBytes(victim)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
    Files.write(victim, bytes)
    val err = intercept[Exception](spark.read.parquet(out).agg(sum("id")).collect())
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toList
    assert(chain.exists(_.isInstanceOf[ChecksumException]), s"no ChecksumException in $chain")
  }

  test("LocalFs applies exactly the requested mode: umask, explicit chmod, sticky fallback") {
    val root = tmp("graft_localfs_modes")
    val conf = new Configuration(false)
    conf.set("fs.permissions.umask-mode", "077")
    val fs = new LocalFs
    fs.initialize(new URI("file:///"), conf)
    try {
      def octal(s: String): Int = Integer.parseInt(s, 8)
      val (dir, file) = (s"$root/a/b", s"$root/a/b/f.txt")
      fs.create(new Path(file)).close()
      assert(perms(Paths.get(dir)) === "rwx------")
      assert(perms(Paths.get(file)) === "rw-------")
      fs.setPermission(new Path(file), new FsPermission(octal("750").toShort))
      assert(perms(Paths.get(file)) === "rwxr-x---")
      // NIO cannot set the sticky bit: Hadoop's own chmod path sets it
      fs.setPermission(new Path(dir), new FsPermission(octal("1777").toShort))
      val mode = Files.getAttribute(Paths.get(dir), "unix:mode").asInstanceOf[Int]
      assert((mode & octal("7777")) === octal("1777"))
    } finally fs.close()
  }

  test("fingerprint walk equals the listFiles (n, Σbytes, Σmtime) on an ivfpq index after an add") {
    val idx = s"${tmp("graft_localfs_fp")}/idx"
    val emb = TableCatalog(spark, sf).embeddings
    Similarity.ivfpqBuild(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx)
    assert(Similarity.ivfpqAdd(emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx))
    def viaListFiles(path: String): String = {
      val (f, p) = StoreFs.fs(spark, path)
      var n = 0L; var bytes = 0L; var mt = 0L
      val it = f.listFiles(p, true)
      while (it.hasNext) {
        val s = it.next(); n += 1; bytes += s.getLen; mt += s.getModificationTime
      }
      s"$n-$bytes-$mt"
    }
    val cells = StoreFs.list(spark, s"$idx/codes").count(_.getName.startsWith("cell="))
    assert(cells > 1)
    Seq(idx, s"$idx/codes", s"$idx/centroids", s"$idx/codes/_SUCCESS").foreach { p =>
      assert(StoreFs.fingerprint(spark, p) === viaListFiles(p), p)
    }
    assert(StoreFs.fingerprint(spark, s"$idx/nope") === "absent")
  }
}
