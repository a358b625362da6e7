package perfbench

import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("TracerSpec").config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** An action that runs exactly one Spark job. */
  private def oneJob(): Long = spark.sparkContext.parallelize(1 to 10, 2).count()

  private def jobsOf(t: Tracer, name: String): Int = {
    val work = t.attribute()
    t.spans.filter(_.name == name).map(s => work.get(s.id).map(_.jobs.size).getOrElse(0)).sum
  }

  test("a job submitted from a pool thread is charged to the span that made the pool") {
    val t = new Tracer(spark, traced = true)
    try {
      t.call("outer") {
        t.call("pooled") {
          // like DeltaSorter.compact: a pool created inside the call
          val pool = Executors.newFixedThreadPool(2)
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
          try Await.result(Future(oneJob()), Duration.Inf)
          finally pool.shutdown()
        }
        t.call("driver_only")(Thread.sleep(5))
      }
      assert(jobsOf(t, "pooled") == 1)
      assert(jobsOf(t, "outer") == 0)
      assert(jobsOf(t, "driver_only") == 0)
      assert(t.nestingViolations == 0)
    } finally t.detach()
  }

  test("a long-lived pool thread keeps a stale group; its job goes to the open span") {
    val t = new Tracer(spark, traced = true)
    val pool = Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      // the thread is created (and inherits the group) during "first"
      t.call("first")(Await.result(Future(oneJob()), Duration.Inf))
      t.call("second")(Await.result(Future(oneJob()), Duration.Inf))
      assert(jobsOf(t, "first") == 1)
      assert(jobsOf(t, "second") == 1)
    } finally {
      pool.shutdown()
      t.detach()
    }
  }

  test("untraced calls are timed but record no spans") {
    val t = new Tracer(spark, traced = false)
    val (r, secs) = t.call("x")(spark.range(5).count())
    assert(r == 5L && secs > 0)
    assert(t.spans.isEmpty)
  }

  test("self time is the span minus its children") {
    val t = new Tracer(spark, traced = true)
    try {
      t.call("parent") {
        t.call("child")(Thread.sleep(30))
        Thread.sleep(30)
      }
      val parent = t.spans.find(_.name == "parent").get
      val child = t.spans.find(_.name == "child").get
      assert(t.selfTimeUs(parent) == (parent.end - parent.start) - (child.end - child.start))
      assert(t.selfTimeUs(parent) >= 25000L)
    } finally t.detach()
  }
}
