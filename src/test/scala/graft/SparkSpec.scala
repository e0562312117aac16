package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM per `sbt test` fork). */
object TestSession {
  lazy val spark: SparkSession = Graft.session("local[4]", shufflePartitions = 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** Evaluate a single-value SQL expression. */
  def sql1(expr: String): Any = spark.sql(s"SELECT $expr").collect()(0).get(0)

  def assertSql(expr: String, expected: Any): Unit = {
    val got = sql1(expr)
    (got, expected) match {
      case (g: Double, e: Double) => assert(math.abs(g - e) < 1e-9, s"$expr -> $g != $e")
      case _ => assert(got == expected, s"$expr -> $got != $expected")
    }
  }

  /** `body`'s result and the number of Spark jobs started while it ran.
   *  Jobs are counted between the starts of two marker jobs, which the
   *  listener bus delivers in order, so the count needs no sleep. */
  def jobsDuring[T](body: => T): (T, Int) = {
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val key = "graft.test.jobMarker"
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(Option(j.properties).flatMap(p => Option(p.getProperty(key))).getOrElse(""))
    }
    def marker(m: String): Unit = {
      sc.setLocalProperty(key, m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      marker("start")
      val out = body
      marker("end")
      val delivered = Iterator.continually(
        Option(starts.poll(60, TimeUnit.SECONDS)).getOrElse(sys.error("marker job start not delivered")))
      (out, delivered.dropWhile(_ != "start").drop(1).takeWhile(_ != "end").size)
    } finally sc.removeSparkListener(listener)
  }

  /** `body` with each SQL conf key set, every key's previous value
   *  restored afterwards. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The broadcast index joins in a Dataset's executed plan, adaptive
   *  query stages included. */
  def indexJoins(df: org.apache.spark.sql.DataFrame): Seq[graft.plans.BroadcastIndexJoinExec] =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case j: graft.plans.BroadcastIndexJoinExec => j }

  def assertSqlApprox(expr: String, expected: Double, tol: Double): Unit = {
    val got = sql1(expr).asInstanceOf[Double]
    assert(math.abs(got - expected) <= tol, s"$expr -> $got !~ $expected (tol $tol)")
  }
}
