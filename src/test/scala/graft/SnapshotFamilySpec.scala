package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.sys.process._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.sources.SnapshotStore

/** Specs for the [[SnapshotStore.family]] combinator itself, over tiny
  * text sources: memo reuse, per-call staleness, the stopped-session
  * sweep, nested families, single-flight first builds and the stamp
  * format committed to `_graft_ok`.
  */
class SnapshotFamilySpec extends SparkSpec {
  import SnapshotFamilySpec._

  private def dataDir(prefix: String, files: (String, String)*): JPath = {
    val d = Files.createTempDirectory(prefix)
    files.foreach { case (n, c) => Files.write(d.resolve(n), c.getBytes(UTF_8)) }
    d
  }

  test("a second call with the same stamp serves the memo without building") {
    val d = dataDir("famhit", "t.txt" -> "alpha")
    val (fam, builds) = copying("fam_hit", "hit-v1", "t.txt")
    assert(fam.get(spark, d.toString) == "alpha")
    assert(fam.get(spark, d.toString) == "alpha")
    assert(builds.get == 1, "an unchanged source must not rebuild")
  }

  test("rewriting the source rebuilds and serves the new content") {
    val d = dataDir("famstale", "t.txt" -> "alpha")
    val (fam, builds) = copying("fam_stale", "stale-v1", "t.txt")
    assert(fam.get(spark, d.toString) == "alpha")
    val src = d.resolve("t.txt")
    Files.write(src, "omega".getBytes(UTF_8))
    assert(src.toFile.setLastModified(src.toFile.lastModified() + 2000))
    assert(fam.get(spark, d.toString) == "omega")
    assert(builds.get == 2)
  }

  test("a committed build is served by a fresh family without rebuilding") {
    val d = dataDir("famwarm", "t.txt" -> "alpha")
    val (first, _) = copying("fam_warm", "warm-v1", "t.txt")
    first.get(spark, d.toString)
    val (second, builds) = copying("fam_warm", "warm-v1", "t.txt")
    assert(second.get(spark, d.toString) == "alpha")
    assert(builds.get == 0, "a marker with the current stamp must be served as is")
    val (bumped, rebuilds) = copying("fam_warm", "warm-v2", "t.txt")
    bumped.get(spark, d.toString)
    assert(rebuilds.get == 1, "a version bump must read the old marker as stale")
  }

  test("a stopped session's memo entry is swept on the next call") {
    // a stopped SparkContext cannot coexist with the suite's shared
    // session, so the probe runs in its own JVM
    val d = dataDir("famsweep", "t.txt" -> "alpha")
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
      .map(_.toString).filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agent"))
    val javaBin = new java.io.File(sys.props("java.home"), "bin/java").toString
    val cmd = Seq(javaBin, "-Xmx1g") ++ jvmArgs ++
      Seq("-cp", sys.props("java.class.path"), SnapshotFamilySweepProbe.getClass.getName.stripSuffix("$"),
        d.toString)
    val out, err = new StringBuilder
    val code = cmd.!(ProcessLogger(out.append(_).append('\n'), err.append(_).append('\n')))
    assert(code == 0 && out.toString.linesIterator.contains("memo=1 value=alpha"),
      s"probe exit $code, output: $out\n${err.takeRight(4000)}")
  }

  test("a family whose build reads another family returns (nested memos)") {
    val d = dataDir("famnest", "t.txt" -> "alpha")
    val (inner, innerBuilds) = copying("fam_inner", "inner-v1", "t.txt")
    val outerBuilds = new AtomicInteger
    val outer = SnapshotStore.family("fam_outer", "outer-v1", "t.txt") { (s, d, dir, _) =>
      outerBuilds.incrementAndGet()
      write(s, dir, inner.get(s, d).toUpperCase)
    } { (s, dir) => read(s, dir) }
    assert(outer.get(spark, d.toString) == "ALPHA")
    assert(outer.get(spark, d.toString) == "ALPHA")
    assert(innerBuilds.get == 1 && outerBuilds.get == 1)
  }

  test("four concurrent first calls build exactly once") {
    val d = dataDir("famconc", "t.txt" -> "alpha")
    val builds = new AtomicInteger
    val fam = SnapshotStore.family("fam_conc", "conc-v1", "t.txt") { (s, d, dir, _) =>
      builds.incrementAndGet()
      Thread.sleep(300)
      write(s, dir, new String(Files.readAllBytes(JPath.of(d, "t.txt")), UTF_8))
    } { (s, dir) => read(s, dir) }
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val start = new CountDownLatch(1)
      val calls = (1 to 4).map(_ => Future { start.await(); fam.get(spark, d.toString) })
      start.countDown()
      val got = Await.result(Future.sequence(calls), 2.minutes)
      assert(got.forall(_ == "alpha"))
      assert(builds.get == 1, s"concurrent first calls built ${builds.get} times")
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  test("a two-source family commits `version:fp1+fp2`, directory from the first source") {
    val d = dataDir("famtwo", "a.txt" -> "alpha", "b.txt" -> "beta")
    val (fam, _) = copying("fam_two", "two-v3", "a.txt", "b.txt")
    fam.get(spark, d.toString)
    val a = s"$d/a.txt"
    val stamp = "two-v3:" + SnapshotStore.fingerprint(spark, a) + "+" +
      SnapshotStore.fingerprint(spark, s"$d/b.txt")
    val marker = read(spark, SnapshotStore.snapshotDir(spark, a, "fam_two"), "_graft_ok")
    assert(marker == stamp)
  }
}

object SnapshotFamilySpec {

  def write(s: SparkSession, dir: String, content: String, name: String = "copy.txt"): Unit = {
    val p = new Path(dir, name)
    val out = p.getFileSystem(s.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  def read(s: SparkSession, dir: String, name: String = "copy.txt"): String = {
    val p = new Path(dir, name)
    val in = p.getFileSystem(s.sparkContext.hadoopConfiguration).open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** A family whose build copies its first source and counts its runs. */
  def copying(name: String, version: String,
              sources: String*): (SnapshotStore.Family[String], AtomicInteger) = {
    val builds = new AtomicInteger
    val fam = SnapshotStore.family(name, version, sources: _*) { (s, d, dir, _) =>
      builds.incrementAndGet()
      write(s, dir, new String(Files.readAllBytes(JPath.of(d, sources.head)), UTF_8))
    } { (s, dir) => read(s, dir) }
    (fam, builds)
  }
}

/** Child-JVM half of the sweep spec: serve the family from one session,
  * stop it, serve again from a second session, and print the memo size.
  */
object SnapshotFamilySweepProbe {
  import SnapshotFamilySpec._

  def main(args: Array[String]): Unit = {
    val d = args(0)
    val (fam, _) = copying("fam_sweep", "sweep-v1", "t.txt")
    def session(): SparkSession = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$d/warehouse")
      .getOrCreate()
    val first = session()
    fam.get(first, d)
    first.stop()
    val second = session()
    val value = fam.get(second, d)
    println(s"memo=${fam.memoSize} value=$value")
    second.stop()
  }
}
