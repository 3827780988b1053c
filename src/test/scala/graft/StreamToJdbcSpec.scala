package graft

import graft.sinks.JdbcApplyWorker
import graft.streaming.Conflation
import graft.streaming.Conflation.ChangeIn
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException}

/** A delegating JDBC driver for `jdbc:faulty:<rest>` URLs: connections
  * are those of `jdbc:<rest>`, except that the `failAt`-th
  * `executeBatch` call (counted JVM-wide; tasks of a local session share
  * the JVM) runs and then throws — a connection lost after the server
  * applied the statement but before the transaction committed.
  */
object FaultyDriver extends java.sql.Driver {
  val prefix = "jdbc:faulty:"
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var failAt: Int = -1

  private def delegate[T](iface: Class[T], target: AnyRef): T =
    java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      (_: AnyRef, m: java.lang.reflect.Method, args: Array[AnyRef]) => {
        val r = try m.invoke(target, Option(args).getOrElse(Array.empty[AnyRef]): _*)
        catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
        m.getName match {
          case "prepareStatement" => delegate(classOf[PreparedStatement], r)
          case "executeBatch" if calls.incrementAndGet() == failAt =>
            throw new SQLException(s"injected failure at executeBatch call $failAt")
          case _ => r
        }
      }).asInstanceOf[T]

  override def acceptsURL(url: String): Boolean = url != null && url.startsWith(prefix)
  override def connect(url: String, info: java.util.Properties): Connection =
    if (!acceptsURL(url)) null
    else delegate(classOf[Connection],
      DriverManager.getConnection("jdbc:" + url.stripPrefix(prefix), info))
  override def getPropertyInfo(url: String, info: java.util.Properties) =
    Array.empty[java.sql.DriverPropertyInfo]
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    throw new java.sql.SQLFeatureNotSupportedException()
}

/** The full CDC loop against a real database: stream → conflated deltas
  * → executor-side JDBC apply → Derby, with replay convergence. This is
  * the reference's end-to-end path (binlog → worker → MySQL upsert)
  * assembled from the Spark-native pieces.
  */
class StreamToJdbcSpec extends SparkSpec {

  import spark.implicits._

  private val url = "jdbc:derby:memory:streamdb;create=true"

  private def resetTable(url: String = url): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE t_state") catch { case _: Exception => () }
      st.execute("CREATE TABLE t_state (pk BIGINT PRIMARY KEY, val DOUBLE)")
      st.close()
    } finally conn.close()
  }

  private def tableState(url: String = url): Map[Long, Double] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery("SELECT pk, val FROM t_state")
      Iterator.continually(rs).takeWhile(_.next()).map(r => r.getLong(1) -> r.getDouble(2)).toMap
    } finally conn.close()
  }

  test("stream -> conflate -> jdbc apply lands on the LWW state; replay converges") {
    resetTable()
    val batches = Seq(
      Seq(ChangeIn("t", 1L, "I", 0L, 1.0), ChangeIn("t", 2L, "I", 1L, 2.0),
        ChangeIn("t", 1L, "U", 2L, 1.5)),
      Seq(ChangeIn("t", 2L, "D", 3L, 0.0), ChangeIn("t", 3L, "I", 4L, 3.0)),
      Seq(ChangeIn("t", 1L, "U", 5L, 1.9), ChangeIn("t", 3L, "U", 6L, 3.0))) // 3: no-op write
    val ms = MemoryStream[ChangeIn](spark, numPartitions = 1)
    val q = Conflation.conflatedDeltas(ms.toDS())
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Conflation.Delta], _: Long) =>
        val frame = b.toDF()
          .select(col("pk"), coalesce(col("value"), lit(0.0)).as("val"), col("op"))
        JdbcApplyWorker.applyBatch(frame, url, "t_state", Seq("pk"), Seq("val"))
      }
      .outputMode(OutputMode.Update).start()
    try {
      batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val expected = Map(1L -> 1.9, 3L -> 3.0)
    assert(tableState() == expected)
    // crash-replay: re-deliver the whole history through a fresh stream
    // over the SAME table — conflation state is new, so every key
    // re-emits, and the idempotent upsert/delete must converge, not dupe
    val ms2 = MemoryStream[ChangeIn](spark, numPartitions = 1)
    val q2 = Conflation.conflatedDeltas(ms2.toDS())
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Conflation.Delta], _: Long) =>
        val frame = b.toDF()
          .select(col("pk"), coalesce(col("value"), lit(0.0)).as("val"), col("op"))
        JdbcApplyWorker.applyBatch(frame, url, "t_state", Seq("pk"), Seq("val"))
      }
      .outputMode(OutputMode.Update).start()
    try {
      ms2.addData(batches.flatten: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(tableState() == expected, "replay must rewrite the same bytes")
  }

  test("a sink failure partway through a batch heals when the batch is re-run") {
    val derby = "jdbc:derby:memory:faultdb;create=true"
    resetTable(derby)
    // committed state before the batch: keys 0..39 hold value k
    val before = (0L until 40L).map(k => k -> k.toDouble).toMap
    JdbcApplyWorker.applyBatch(
      before.toSeq.map { case (k, v) => (k, v, "I") }.toDF("pk", "val", "op"),
      derby, "t_state", Seq("pk"), Seq("val"))
    assert(tableState(derby) == before)
    // a seeded changelog over keys 0..79; every key's final state differs
    // from `before` (a new value, a delete of a stored key, or a new key)
    val rnd = new scala.util.Random(7)
    val changes = (0 until 400).map { pos =>
      val k = rnd.nextInt(80).toLong
      (k, if (rnd.nextInt(4) == 0) "D" else "U", 1000.0 + pos, pos)
    }
    val finals = changes.groupBy(_._1).values.map(_.maxBy(_._4)).toSeq
      .filter { case (k, op, _, _) => op != "D" || before.contains(k) }
    // the sequential LWW fold of the whole changelog over `before`
    val expected = changes.foldLeft(before) {
      case (st, (k, "D", _, _)) => st - k
      case (st, (k, _, v, _)) => st.updated(k, v)
    }
    // the pre-merged batch the sink receives: one row per key, final op
    val batch = finals.map { case (k, op, v, _) => (k, v, op) }.toDF("pk", "val", "op")

    DriverManager.registerDriver(FaultyDriver)
    try {
      val faulty = FaultyDriver.prefix + derby.stripPrefix("jdbc:")
      FaultyDriver.calls.set(0); FaultyDriver.failAt = 13
      // batchSize 4: many executeBatch calls per task, so by call 13 at
      // least one chunk of some task has committed
      intercept[Exception] {
        JdbcApplyWorker.applyBatch(batch, faulty, "t_state", Seq("pk"), Seq("val"),
          batchSize = 4)
      }
      val partial = tableState(derby)
      assert(partial != before, "the failure must come after some chunk committed")
      assert(partial != expected, "the failure must leave part of the batch unapplied")
      // the replay of the same batch (foreachBatch re-runs an uncommitted
      // batch id) over the same connection path converges to the fold
      JdbcApplyWorker.applyBatch(batch, faulty, "t_state", Seq("pk"), Seq("val"),
        batchSize = 4)
      assert(tableState(derby) == expected, "replay must converge to the LWW fold")
    } finally DriverManager.deregisterDriver(FaultyDriver)
  }
}
