package graft

import java.nio.file.{Files, StandardCopyOption, Path => JPath}
import java.nio.file.attribute.{FileTime, PosixFilePermissions}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import graft.sources.Tables
import graft.streaming.{EventsStream, LocalCheckpointFileManager, SessionStream, UserTotalsStream}

/** Contract of graft's [[LocalCheckpointFileManager]], checked side by side
  * with Spark's default manager (`CheckpointFileManager.create` with no
  * class configured — FileContext-based on `file:`) in temp dirs: atomic
  * visibility, cancel, the no-overwrite FileAlreadyExistsException
  * HDFSMetadataLog relies on, listing, Hadoop `.crc` sidecars and modes,
  * checksum verification on read, and routing of non-local schemes to
  * Spark's default. The last test replays real pipelines under each
  * manager and compares the whole checkpoint trees.
  */
class CheckpointFileManagerSpec extends SparkTestBase with BeforeAndAfterAll {

  private val conf = new Configuration()

  private def stock(p: Path): CheckpointFileManager = {
    val c = new Configuration(conf)
    c.unset(LocalCheckpointFileManager.ConfKey)
    CheckpointFileManager.create(p, c)
  }

  private val managers: Seq[(String, Path => CheckpointFileManager)] = Seq(
    "spark default" -> stock,
    "graft local" -> (p => new LocalCheckpointFileManager(p, conf)))

  private val made = scala.collection.mutable.Buffer.empty[JPath]
  private def tempJDir(tag: String): JPath = {
    val d = Files.createTempDirectory(s"graft_cfm_$tag")
    made += d
    d
  }
  private def tempDir(tag: String): Path = new Path(tempJDir(tag).toUri)

  override def afterAll(): Unit =
    try made.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()

  private def write(fm: CheckpointFileManager, p: Path, s: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes("UTF-8"))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Every entry under `dir` (hidden `.crc` sidecars included), relative
    * name -> `rwxr-xr-x`-style mode. */
  private def tree(dir: JPath): Map[String, String] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
    finally walk.close()
  }

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  private def maskUuids(name: String): String = uuid.replaceAllIn(name, "<uuid>")

  private def localTree(dir: Path): Map[String, String] =
    tree(java.nio.file.Paths.get(dir.toUri))

  for ((name, mk) <- managers) {
    test(s"$name: a file is visible only after close; cancel leaves nothing") {
      val dir = tempDir("vis")
      val fm = mk(dir)
      val p = new Path(dir, "0")
      val out = fm.createAtomic(p, false)
      out.write("batch 0".getBytes("UTF-8"))
      assert(!fm.exists(p), "final file visible before close()")
      out.close()
      assert(fm.exists(p) && read(fm, p) === "batch 0")

      val q = new Path(dir, "1")
      val cancelled = fm.createAtomic(q, false)
      cancelled.write("never".getBytes("UTF-8"))
      cancelled.cancel()
      assert(!fm.exists(q))
      assert(localTree(dir).keySet.forall(n => !n.contains("1")),
        s"cancel left temp or final files: ${localTree(dir).keySet}")
    }

    test(s"$name: no-overwrite onto an existing file throws FileAlreadyExistsException, keeps old bytes") {
      val dir = tempDir("noover")
      val fm = mk(dir)
      val p = new Path(dir, "0")
      write(fm, p, "first", overwrite = false)
      intercept[FileAlreadyExistsException] {
        write(fm, p, "second", overwrite = false)
      }
      assert(read(fm, p) === "first")
      write(fm, p, "third", overwrite = true)
      assert(read(fm, p) === "third")
    }
  }

  // Spark's default manager on Hadoop 3.4 opens `file:` paths through
  // LocalFs without checking the sidecar, so only graft's is pinned here.
  test("graft local: one flipped byte fails the read with ChecksumException") {
    val dir = tempDir("crc")
    val fm = new LocalCheckpointFileManager(dir, conf)
    val p = new Path(dir, "0")
    write(fm, p, "offsets v1 " * 20, overwrite = false)
    val local = java.nio.file.Paths.get(p.toUri)
    val bytes = Files.readAllBytes(local)
    bytes(7) = (bytes(7) ^ 0x20).toByte
    Files.write(local, bytes)
    intercept[ChecksumException](read(fm, p))
  }

  test("list / exists / delete and on-disk layout match Spark's default manager") {
    // Same script against each manager in its own dir; every observation
    // and the resulting tree (names, .crc sidecars, modes) must agree.
    val observed = managers.map { case (_, mk) =>
      val dir = tempDir("script")
      val fm = mk(dir)
      val sub = new Path(dir, "state/0/1")
      fm.mkdirs(sub)
      write(fm, new Path(sub, "1.delta"), "d1", overwrite = false)
      write(fm, new Path(sub, "2.delta"), "d2", overwrite = false)
      write(fm, new Path(dir, "metadata"), "{}", overwrite = true)
      fm.delete(new Path(dir, "missing")) // a no-op, not an error
      fm.delete(new Path(sub, "1.delta"))
      // a refused no-overwrite leaves the same debris under both
      intercept[FileAlreadyExistsException](
        write(fm, new Path(sub, "2.delta"), "again", overwrite = false))
      val obs = Seq(
        fm.list(sub).map(st => maskUuids(st.getPath.getName)).sorted.toSeq,
        fm.list(dir, (p: Path) => p.getName != "metadata").map(_.getPath.getName).sorted.toSeq,
        Seq(fm.exists(new Path(sub, "2.delta")), fm.exists(new Path(sub, "1.delta")),
          fm.exists(new Path(dir, "missing")), fm.isLocal))
      (obs, localTree(dir).map { case (n, mode) => maskUuids(n) -> mode })
    }
    val (stockObs, stockTree) = observed.head
    val (graftObs, graftTree) = observed(1)
    assert(graftObs === stockObs)
    assert(stockTree.keySet.exists(_.endsWith(".2.delta.crc")),
      s"expected Hadoop .crc sidecars, got ${stockTree.keySet}")
    assert(graftTree === stockTree)
  }

  test("file: paths go fork-free; other schemes get exactly Spark's default manager") {
    val local = new LocalCheckpointFileManager(tempDir("route"), conf).delegate
    val fs = local.asInstanceOf[LocalCheckpointFileManager.ForkFreeManager].fs
    assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem
      .isInstanceOf[LocalCheckpointFileManager.NioRawLocalFileSystem])
    val schemeLess = new LocalCheckpointFileManager(
      new Path(tempJDir("noscheme").toString), conf).delegate
    assert(schemeLess.getClass === local.getClass)

    // A scheme registered only in this conf: Spark's default is the
    // FileSystem-based fallback (no FileContext binding for it).
    val other = new Configuration(conf)
    other.set("fs.graftother.impl", classOf[RawLocalFileSystem].getName)
    other.set("fs.graftother.impl.disable.cache", "true")
    val p = new Path("graftother:///tmp/graft_cfm_other")
    val routed = new LocalCheckpointFileManager(p, other).delegate
    val c = new Configuration(other)
    c.unset(LocalCheckpointFileManager.ConfKey)
    assert(routed.getClass === CheckpointFileManager.create(p, c).getClass)
    assert(routed.getClass === classOf[FileSystemBasedCheckpointFileManager])
  }

  test("install sets graft's manager only when none is configured") {
    val key = LocalCheckpointFileManager.ConfKey
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      LocalCheckpointFileManager.install(spark)
      assert(spark.conf.get(key) === classOf[LocalCheckpointFileManager].getName)
      val user = classOf[FileContextBasedCheckpointFileManager].getName
      spark.conf.set(key, user)
      LocalCheckpointFileManager.install(spark)
      assert(spark.conf.get(key) === user)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a replayed checkpoint tree matches Spark's default manager's: names, modes, .crc sidecars") {
    // sf0.001 events cut by event time into two files with ascending
    // mtimes (two micro-batches), replayed through an HDFS-backed dedup
    // landing in Parquet, a flatMapGroupsWithState sessionizer and the
    // RocksDB-backed totals, once per manager.
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val us = unix_micros(Tables.tsUtc(raw.schema("ts").dataType))
    val cut = raw.agg(percentile_approx(us, lit(0.5), lit(10000))).first().getLong(0)
    val inDir = tempJDir("in")
    val now = System.currentTimeMillis()
    Seq(us < cut, us >= cut).zipWithIndex.foreach {
      case (half, i) =>
        val tmp = tempJDir(s"chunk_$i")
        raw.filter(half).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
        val dest = inDir.resolve(f"c$i%03d.parquet")
        Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dest, FileTime.fromMillis(now - (2 - i) * 30000L))
    }
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = Seq(LocalCheckpointFileManager.ConfKey, providerKey)
      .map(k => k -> spark.conf.getOption(k))
    /** Sorted (name with UUIDs masked, mode) pairs: masking can make
      * names collide, so this is a multiset, not a map. */
    def replay(manager: String): Seq[(String, String)] = {
      val root = tempJDir("replay")
      // HDFS-backed store for dedup and sessions whatever an earlier
      // totals() left on the shared session; totals() switches to RocksDB
      spark.conf.unset(providerKey)
      spark.conf.set(LocalCheckpointFileManager.ConfKey, manager)
      val in = inDir.toString
      Seq("dedup" -> (() => EventsStream.dedupedEvents(spark, in)),
        "sessions" -> (() => SessionStream.sessions(spark, in)),
        "totals" -> (() => UserTotalsStream.totals(spark, in))).foreach {
        case (name, build) =>
          val w = build().writeStream
          val sink =
            if (name == "dedup") w.format("parquet").option("path", s"$root/sink")
            else w.format("noop")
          val q = sink.option("checkpointLocation", s"$root/ckpt/$name")
            .trigger(Trigger.AvailableNow()).start()
          assert(q.awaitTermination(120000), s"$name did not finish in 2 min")
      }
      tree(root).filter { case (n, _) =>
        // sink data files are written outside the checkpoint manager
        n.startsWith("ckpt") || n.startsWith("sink/_spark_metadata")
      }.toSeq.map { case (n, mode) => maskUuids(n) -> mode }.sorted
    }
    try {
      val stockTree = replay(classOf[FileContextBasedCheckpointFileManager].getName)
      val graftTree = replay(classOf[LocalCheckpointFileManager].getName)
      val names = stockTree.map(_._1)
      assert(names.exists(_.endsWith(".delta.crc")) && names.exists(_.endsWith(".zip.crc")) &&
        names.contains("sink/_spark_metadata/.0.crc"),
        s"expected state-store and sink-log sidecars, got $names")
      val onlyStock = stockTree.diff(graftTree)
      val onlyGraft = graftTree.diff(stockTree)
      assert(onlyStock.isEmpty && onlyGraft.isEmpty,
        s"${stockTree.size} vs ${graftTree.size} entries; only under the default " +
          s"manager: ${onlyStock.take(10)}; only under graft's: ${onlyGraft.take(10)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
