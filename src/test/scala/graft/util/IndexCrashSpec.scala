package graft.util

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, FilterFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import scala.util.Try

import graft.SparkSpec
import graft.operators.{Dedup, Similarity}
import graft.streaming.FilePipelines

/** The local filesystem under the `crashfs` scheme, failing on demand:
  * once armed at k, the k-th mutating call (rename, delete, mkdirs or
  * create) the engine itself makes throws, and so does every later one
  * — the process is dead from that call on. Calls Spark makes inside a
  * DataFrame write are not counted: a torn Spark write leaves only a
  * partial stage, which is exactly what the protocol already treats as
  * garbage at its next engine-level step.
  */
class CrashFs extends FilterFileSystem(new CrashFs.Local) {
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.tick("rename", src); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CrashFs.tick("delete", f); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = {
    CrashFs.tick("mkdirs", f); super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CrashFs.tick("mkdirs", f); super.mkdirs(f, permission)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CrashFs.tick("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object CrashFs {
  val Scheme = "crashfs"

  /** Raw local files, addressed as `crashfs:/…`. Statuses carry their
    * permission eagerly: the raw local status loads it lazily through a
    * `file:` URI, which a `crashfs:` path is not.
    */
  class Local extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    private def eager(s: FileStatus): FileStatus =
      new FileStatus(s.getLen, s.isDirectory, s.getReplication,
        s.getBlockSize, s.getModificationTime, s.getAccessTime,
        FsPermission.getDefault, "", "", s.getPath)
    override def getFileStatus(f: Path): FileStatus =
      eager(super.getFileStatus(f))
    override def listStatus(f: Path): Array[FileStatus] =
      super.listStatus(f).map(eager)
  }

  final class Crash(msg: String) extends IOException(msg)

  // per thread: (calls counted, call to crash at; 0 = never). The
  // engine makes its own calls on the thread that called it, so trials
  // on different threads count independently.
  private val state = ThreadLocal.withInitial[Array[Int]](() => Array(0, 0))

  /** Count this thread's calls from zero; crash at call `k` (0 = never). */
  def arm(k: Int): Unit = { state.get()(0) = 0; state.get()(1) = k }
  def count: Int = state.get()(0)

  private def engineCall: Boolean =
    Thread.currentThread.getStackTrace.iterator.map(_.getClassName)
      .find(c => !c.startsWith("java.") && !c.startsWith("graft.util.CrashFs")
        && !c.startsWith("org.apache.hadoop.fs."))
      .exists(_.startsWith("graft."))

  private def tick(op: String, p: Path): Unit =
    if (engineCall) {
      val st = state.get()
      st(0) += 1
      if (st(1) > 0 && st(0) >= st(1))
        throw new Crash(s"injected crash at mutating call ${st(0)} ($op $p)")
    }
}

/** Crash-state enumeration of the persisted-index lifecycle
  * ([[IndexStore]]) and the upsert table swap, after ALICE (Pillai et
  * al., OSDI 2014): for every mutating filesystem call k of a clean
  * run, a fresh copy of the fixture runs the operation with a crash at
  * call k, then the public recovery entry point, then the operation
  * again. Recovery must leave a complete generation (the fixture's or
  * the clean run's), and the retry must end equal to the clean run —
  * the same rows, the same metadata — with no parked `.old` generation,
  * stage or fence left behind.
  */
class IndexCrashSpec extends SparkSpec {
  import spark.implicits._

  private lazy val base: File = {
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.${CrashFs.Scheme}.impl", classOf[CrashFs].getName)
    val d = Files.createTempDirectory("index_crash").toFile
    TempFixtures.deleteOnExit(d.getAbsolutePath)
    d
  }
  private def uri(f: File): String = s"${CrashFs.Scheme}://${f.getAbsolutePath}"

  // trials run on a few threads, each with its own session (maintenance
  // scopes session conf) and one shuffle partition: the fixtures are tiny
  // and every trial is job-latency bound
  private val threads = 4
  private lazy val sessions = ThreadLocal.withInitial[SparkSession] { () =>
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "1")
    s
  }

  private lazy val vecs = {
    val rnd = new scala.util.Random(7)
    (0L until 24L).map(i => (i, Array.fill(4)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }
  private def half(lo: Long, hi: Long) =
    vecs.filter($"vec_id" >= lo && $"vec_id" < hi)

  private def copyTree(from: File, to: File): Unit = {
    val src = from.toPath
    Files.walk(src).forEach { p =>
      Files.copy(p, to.toPath.resolve(src.relativize(p).toString),
        StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  private def leftovers(root: File): Seq[String] =
    Option(root.listFiles).toSeq.flatten.map(_.getName).filter(n =>
      n.endsWith(".old") || n.endsWith(".new") || n.startsWith("_compact_")
        || n.startsWith("_refit_") || n == "_maintenance_fence")

  /** Rows of each parquet dir and the record of each metadata dir. */
  private def dump(data: String*)(meta: String*)(s: SparkSession,
      root: String): Seq[String] = {
    val fs = new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    data.flatMap(d => s.read.parquet(s"$root/$d").collect()
      .map(r => s"$d: $r").sorted) ++
      meta.map(m => s"$m: " + MetaJson.read(fs, s"$root/$m", m))
  }

  /** Enumerate every crash point of `op` over copies of `fixture`: the
    * clean run counts the calls, then one trial per call k crashes
    * there, recovers, retries and compares.
    */
  private def enumerate(name: String, fixture: File)(
      op: (SparkSession, String) => Unit)(
      recover: (SparkSession, String) => Unit)(
      state: (SparkSession, String) => Seq[String]): Unit = {
    def fresh(trial: Int): String = {
      val d = new File(base, s"$name-$trial")
      if (fixture.exists) copyTree(fixture, d)
      uri(d)
    }
    // a complete generation is the fixture's or the clean run's; no
    // state at all is a generation too when the fixture has no table
    def read(s: SparkSession, root: String) = Try(state(s, root)).toOption
    val before = read(sessions.get, uri(fixture))
    val clean = fresh(0)
    CrashFs.arm(0)
    op(sessions.get, clean)
    val calls = CrashFs.count
    val want = state(sessions.get, clean)
    assert(calls > 0, s"$name: no mutating call counted")
    def trial(k: Int): Option[String] = {
      val s = sessions.get
      val root = fresh(k)
      CrashFs.arm(k)
      val crashed = try { op(s, root); None }
        catch { case e: Exception => Some(e) }
        finally CrashFs.arm(0)
      val local = new File(new URI(root).getPath)
      if (!crashed.exists(e => Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).exists(_.isInstanceOf[CrashFs.Crash])))
        Some(s"call $k: no injected crash, got $crashed")
      else {
        recover(s, root)
        val recovered = read(s, root)
        if (recovered != before && !recovered.contains(want))
          Some(s"call $k: recovery left an incomplete generation")
        else {
          op(s, root)
          if (state(s, root) != want) Some(s"call $k: retry state differs")
          else if (leftovers(local).nonEmpty)
            Some(s"call $k: left ${leftovers(local)}")
          else None
        }
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val failures = try {
      val tasks = (1 to calls).map(k =>
        pool.submit(new java.util.concurrent.Callable[Option[String]] {
          def call(): Option[String] = trial(k)
        }))
      tasks.flatMap(_.get())
    } finally pool.shutdown()
    info(s"$name: $calls crash points")
    assert(failures.isEmpty, s"$name (of $calls calls): $failures")
  }

  private def fixture(name: String)(build: String => Unit): File = {
    val d = new File(base, s"fixture-$name")
    build(uri(d))
    d
  }

  test("compaction of LSH, IVF, PQ and SQ8 survives a crash at every call") {
    val docs = (0L until 12L).map(i =>
      (i, s"the shared crawl boilerplate line number ${i % 4} of the page"))
      .toDF("doc_id", "text")
    val lsh = fixture("lsh") { p =>
      Dedup.writeLshIndex(docs.filter($"doc_id" < 6), p)
      assert(Dedup.appendToLshIndexCommitted(spark, p,
        docs.filter($"doc_id" >= 6), 1L))
    }
    enumerate("lsh-compact", lsh)(Dedup.compactLshIndex(_, _))(
      Dedup.recoverLshIndex)(dump("bands", "sets")())

    val ivf = fixture("ivf") { p =>
      Similarity.writeIvfIndex(half(0, 12), ncells = 2, p)
      assert(Similarity.appendToIvfIndexCommitted(spark, p, half(12, 24), 1L))
    }
    enumerate("ivf-compact", ivf)(Similarity.compactIvfIndex)(
      Similarity.recoverIvfIndex)(dump("cells")("centroids"))

    val pq = fixture("pq") { p =>
      Similarity.writePqIndex(half(0, 12),
        Similarity.pqCodebooks(half(0, 12), m = 2, kcodes = 4, iters = 2), p)
      assert(Similarity.appendToPqIndexCommitted(spark, p, half(12, 24), 1L))
    }
    enumerate("pq-compact", pq)(Similarity.compactPqIndex(_, _))(
      Similarity.recoverPqIndex)(dump("codes")("codebook"))

    val sq8 = fixture("sq8") { p =>
      Similarity.writeSq8Index(half(0, 12), p)
      assert(Similarity.appendToSq8IndexCommitted(spark, p, half(12, 24), 1L))
    }
    enumerate("sq8-compact", sq8)(Similarity.compactSq8Index(_, _))(
      Similarity.recoverSq8Index)(dump("codes")("bounds"))
  }

  test("refit of IVF, PQ and SQ8 survives a crash at every call") {
    // one composed root. The PQ and SQ8 refits read their raw vectors
    // (the codes are lossy) from ONE file: PQ's codebook sample follows
    // scan order, which across roots at different paths is only stable
    // for a single file.
    val root = fixture("composed") { p =>
      Similarity.writeIvfIndex(half(0, 12), ncells = 2, p)
      Similarity.appendToIvfIndex(half(12, 24), p)
      vecs.coalesce(1).write.parquet(s"$p/vectors")
      Similarity.writePqIndex(vecs,
        Similarity.pqCodebooks(half(0, 12), m = 2, kcodes = 4, iters = 2), p)
      Similarity.writeSq8Index(half(0, 12), p)
      Similarity.appendToSq8Index(spark, p, half(12, 24))
    }
    enumerate("ivf-refit", root)(
      Similarity.refitIvfIndex(_, _, ncells = 2, iters = 1))(
      Similarity.recoverIvfIndex)(dump("cells")("centroids"))
    enumerate("pq-refit", root)((s, p) => Similarity.refitPqIndex(s, p,
        m = 2, kcodes = 4, iters = 2, vectorsDir = Some(s"$p/vectors")))(
      Similarity.recoverPqIndex)(dump("codes")("codebook"))
    enumerate("sq8-refit", root)((s, p) => Similarity.refitSq8Index(s, p,
        vectorsDir = Some(s"$p/vectors")))(
      Similarity.recoverSq8Index)(dump("codes")("bounds"))
  }

  test("upsertBatch survives a crash at every call, first generation included") {
    def upsert(ids: Range)(s: SparkSession, root: String): Unit = {
      import s.implicits._
      val batch = ids.map(i =>
          (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L,
            "click", 10.0 + i))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      FilePipelines.upsertBatch(batch, s"$root/t")
    }
    def recover(s: SparkSession, root: String): Unit =
      FilePipelines.recoverTarget(
        new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration),
        s"$root/t")
    val table = fixture("upsert")(upsert(0 until 4)(spark, _))
    enumerate("upsert", table)(upsert(2 until 6))(recover)(dump("t")())
    enumerate("upsert-first", new File(base, "fixture-none"))(
      upsert(2 until 6))(recover)(dump("t")())
  }
}
