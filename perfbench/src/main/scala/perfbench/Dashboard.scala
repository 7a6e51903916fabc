package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.changelog.ResultTable

/** A `user` event in the reference's shape (FIXTURES.md §1). */
final case class User(guid: String, eyeColor: String, age: Int, balance: String)

/** The reference dashboard's three statements, verbatim
  * (`dashboard.py:83,100,118-132`), each over its own append-only `user`
  * stream fed identical pages. Rows come from the sf0.1 `customer` table
  * with the FIXTURES.md mapping (eyeColor = lower(c_mktsegment), age =
  * 20 + c_custkey % 50, balance = '$' + c_acctbal), picked by the seed;
  * every event gets a fresh guid. */
object Dashboard {
  val EyeColors = """SELECT eyeColor, count(*) AS eye_color_count FROM `user` GROUP BY eyeColor"""
  val Locations =
    """SELECT `user`.guid,
      |  37.7 + (RAND() * (37.77 - 37.7)) AS latitude,
      |  -122.50 + (RAND() * (-122.39 - (-122.50))) AS longitude
      |FROM `user`""".stripMargin
  val AgeGroups =
    """WITH users_with_age_groups AS (
      |  SELECT CAST(substring(balance FROM 2) AS DOUBLE) AS balance_double,
      |    CASE
      |      WHEN age BETWEEN 20 AND 29 THEN '20s'
      |      WHEN age BETWEEN 30 AND 39 THEN '30s'
      |      WHEN age BETWEEN 40 AND 49 THEN '40s'
      |      WHEN age BETWEEN 50 AND 59 THEN '50s'
      |      ELSE 'other'
      |    END AS age_group
      |  FROM `user`)
      |SELECT age_group, AVG(balance_double) AS avg_balance
      |FROM users_with_age_groups
      |GROUP BY age_group""".stripMargin

  def ageGroup(a: Int): String =
    if (a >= 20 && a <= 29) "20s" else if (a >= 30 && a <= 39) "30s"
    else if (a >= 40 && a <= 49) "40s" else if (a >= 50 && a <= 59) "50s"
    else "other"

  /** Steady phase: the reference's JR page of 10 events every 0.5 s. */
  val PageEvents = 10
  /** Drain phase: events in one backlog page. */
  val BacklogEvents = 6000
}

final class Dashboard(a: Main.Args, tracer: Tracer)
    extends StreamingWorkload[Seq[User]](a, tracer) {
  import Dashboard._

  private var customers: IndexedSeq[(String, Int, String)] = IndexedSeq.empty
  private val fed = mutable.ArrayBuffer.empty[User]

  def loadTables(spark: SparkSession): Unit = {
    customers = graft.sources.Tables.load(spark, a.data, "customer")
      .select(lower(col("c_mktsegment")), (lit(20) + col("c_custkey") % 50).cast("int"),
        concat(lit("$"), col("c_acctbal").cast("decimal(12,2)").cast("string")))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toIndexedSeq
  }

  private def users(n: Int): Seq[User] = {
    val page = Seq.fill(n) {
      val (eye, age, bal) = customers(rnd.nextInt(customers.size))
      User(new java.util.UUID(rnd.nextLong(), rnd.nextLong()).toString, eye, age, bal)
    }
    fed ++= page
    page
  }
  def firstPage(): Seq[User] = users(PageEvents)
  def steadyPage(): Seq[User] = users(PageEvents)
  def backlogPage(): Seq[User] = users(BacklogEvents)
  def pageEvents(p: Seq[User]): Int = p.size

  def warmStatement(spark: SparkSession): Unit = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val m = MemoryStream[User]
    m.toDF().createOrReplaceTempView("user")
    val st = new graft.api.Statements(spark).create(EyeColors)
    m.addData(User("warm", "brown", 30, "$1.00"))
    val q = spark.streams.active.find(_.name == st.name).get
    q.processAllAvailable()
    st.stop()
  }

  private abstract class UserSubject(label: String, sql: String)
      extends Subject[Seq[User]](label, sql) {
    private var mem: MemoryStream[User] = _
    def register(spark: SparkSession): Unit = {
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      mem = MemoryStream[User]
      mem.toDF().createOrReplaceTempView("user")
    }
    def feed(page: Seq[User]): Unit = mem.addData(page)
    def staticViews(spark: SparkSession): Unit = {
      import spark.implicits._
      spark.createDataset(fed.toSeq).createOrReplaceTempView("user")
    }
  }

  def subjects: Seq[Subject[Seq[User]]] = Seq(
    new UserSubject("demo2_eye_colors", EyeColors) {
      val tracker = new CountTracker(0, 1)
      def expect(page: Seq[User], t: Long): Unit =
        page.foreach(u => tracker.register(u.eyeColor, t))
      def keyCols: Seq[Int] = Seq(0)
    },
    new UserSubject("demo1_user_locations", Locations) {
      val tracker = new IdTracker(0)
      def expect(page: Seq[User], t: Long): Unit =
        page.foreach(u => tracker.register(u.guid, t))
      def keyCols: Seq[Int] = Seq(0)
      /** RAND() is unseeded: checked by the guid multiset and the jitter
        * bounds instead of by value. */
      override def compare(collapsed: ResultTable, batch: Seq[Seq[Any]]): Int = {
        val outOfBounds = collapsed.rows.count { r =>
          val lat = r(1).asInstanceOf[Double]; val lon = r(2).asInstanceOf[Double]
          !(lat >= 37.7 && lat <= 37.77 && lon >= -122.50 && lon <= -122.39)
        }
        Layers.diff(collapsed.rows.map(r => Seq(r(0))), batch.map(r => Seq(r.head))) +
          outOfBounds
      }
    },
    new UserSubject("demo3_age_groups", AgeGroups) {
      val tracker = new AverageTracker(0, 1)
      def expect(page: Seq[User], t: Long): Unit =
        page.foreach(u => tracker.register(ageGroup(u.age), u.balance.drop(1).toDouble, t))
      def keyCols: Seq[Int] = Seq(0)
    })
}
