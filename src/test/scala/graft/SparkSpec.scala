package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per JVM (suites run sequentially in the forked
  * test JVM; getOrCreate hands every suite the same session) — mirrors the
  * reference's SparkForAll fixture (runtime/src/test/scala/.../SparkForAll
  * .scala:24-77).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with `pins` set on the shared session, restoring the
    * previous values (or unsetting) afterwards. Tests only: graft itself
    * never writes a shared session (see [[GraftSession.pinned]]).
    */
  def withConfs[A](pins: Map[String, String])(body: => A): A = {
    val saved = pins.keys.map(k => k -> spark.conf.getOption(k)).toMap
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The state store `transformWithState` requires, as a [[withConfs]] pin. */
  val rocksDbStateStore: Map[String, String] = Map("spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** The repository root: the nearest directory above the working
    * directory that holds build.sbt. */
  lazy val repoRoot: File =
    Iterator.iterate(new File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null).find(d => new File(d, "build.sbt").isFile)
      .getOrElse(fail("no build.sbt above the working directory"))

  /** The sf0.01 fixture tables frozen in the repo for the benchmark. */
  lazy val templateDir: String = new File(repoRoot, "perfbench/template").getPath
}

/** Reference-style micro-models (FIXTURES.md §A): Foo the master, Bar the
  * transaction, nullable keys throughout.
  */
final case class Foo(id: Option[Int], name: String)
final case class Bar(id: Option[Int], fooId: Option[Int], v: Int)
