package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.sources.{Snapshot, Tables}

/** The paper's loop: one full export of the ten tables, then repeated
  * backup cycles until the window closes. A cycle applies the seeded
  * delta (line items appended, an orders slice replaced, dimension
  * tables unchanged), exports it incrementally against the previous
  * tag, appends an events delta through the DSv2 writer, issues the
  * seeded lookups against the new tag and restores lineitem as of an
  * earlier point, then runs retain + vacuum, so every cycle has the
  * same shape. */
object SnapshotCycle {
  val Source = "graft.sources.SnapshotSource"
  val TableNames = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  /** Range-clustering key of each table the deltas change. */
  val Keys = Map("lineitem" -> "l_orderkey", "orders" -> "o_orderkey", "events" -> "event_id")
  /** Tags retention keeps: as-of restores reach back at most two tags. */
  val Keep = 3

  /** ISO-date tags, one day apart; as-of targets fall at noon between. */
  def tag(c: Int): String = LocalDate.of(2024, 3, 1).plusDays(c.toLong).toString

  /** The initial key-range layout, like the many SSTables of a Cassandra snapshot. */
  private def clustered(name: String, df: DataFrame, files: Int): DataFrame =
    df.repartitionByRange(files, col(Keys(name))).sortWithinPartitions(Keys(name))

  /** Order-insensitive content digest of a lineitem frame; checks.py
    * computes the same sums from the generated inputs. */
  def lineitemDigest(df: DataFrame): Seq[Any] = {
    def cents(c: String) = sum(round(col(c) * 100).cast("long"))
    df.agg(count(lit(1)), sum("l_orderkey"), sum("l_partkey"), sum("l_suppkey"),
      sum("l_linenumber"), cents("l_quantity"), cents("l_extendedprice"),
      cents("l_discount"), cents("l_tax"), sum(ascii(col("l_returnflag"))),
      sum(ascii(col("l_linestatus"))),
      sum(datediff(col("l_shipdate").cast("date"), lit("1995-01-01").cast("date"))))
      .head.toSeq
  }

  private def plain(r: Row): Seq[Any] = r.toSeq.map {
    case t: java.time.LocalDateTime => t.toString
    case x => x
  }

  def run(spark: SparkSession, rec: Recorder, a: Map[String, String],
          out: mutable.Map[String, Any]): Unit = {
    implicit val formats: Formats = DefaultFormats
    val root = s"${a("work")}/snapshots"
    val data = a("data")
    val snap = a("snap")
    val tracing = a("trace") == "1"
    val inputs = parse(Files.readString(Paths.get(s"$snap/plan.json")))
    val files = (inputs \ "files").extract[Int]
    val plan = (inputs \ "plan").children
    def delta(t: String, c: Int) =
      spark.read.parquet(s"$snap/delta_$t.parquet").where(col("cycle") === c).drop("cycle")
    def dsv2(t: String, tg: String) = spark.read.format(Source)
      .option("root", root).option("tag", tg).option("table", t).load()
    def manifest(tg: String): Map[String, Any] = {
      val m = Snapshot.readManifest(spark, root, tg)
      m.tables.map { case (t, e) =>
        t -> Map("files" -> e.files.size, "bytes" -> e.files.map(_.size).sum, "rows" -> e.rows,
          "paths" -> e.files.map(_.path))
      }
    }
    def noteManifest(tg: String): Unit = rec.ops.last("manifest") = manifest(tg)
    val eventsSchema = Tables.events(spark, data).schema

    // The live tables as they stand when a backup starts. The ones the
    // deltas change are materialised before the export op, so the op
    // times the backup itself and not the delta's application.
    val live = mutable.Map[String, DataFrame]()
    TableNames.foreach(t => live(t) = t match {
      case "events" => Tables.events(spark, data)
      case other => spark.read.parquet(s"$data/$other.parquet")
    })
    var held = Set.empty[Int]
    def settle(c: Int, tables: Seq[String])(next: String => DataFrame): Unit = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      rec.op("delta", "live", "cycle" -> c) { _ =>
        tables.foreach(t => live(t) = next(t).localCheckpoint())
      }
      // the previous state's checkpoint blocks are no longer referenced
      held.foreach(id => spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist()))
      held = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    }
    settle(0, Keys.keys.toSeq.sorted)(t => clustered(t, live(t), files))
    rec.op("export", "full", "cycle" -> 0) { _ =>
      Snapshot.export(spark, live.toMap, root, tag(0))
    }
    noteManifest(tag(0))

    val deadline = Clock.nowUs + (a("seconds").toDouble * 1e6).toLong
    var c = 0
    while (Clock.nowUs < deadline && c < plan.size) {
      c += 1
      val (prev, cur) = (tag(c - 1), tag(c))
      val step = plan(c - 1)
      val slice = delta("orders", c)
      // new rows land in new files beside the existing key ranges, as a
      // flush adds an SSTable; replaced orders leave their old range
      settle(c, Seq("lineitem", "orders")) {
        case "lineitem" => live("lineitem").unionByName(delta("lineitem", c))
        case "orders" => live("orders")
          .join(broadcast(slice.select("o_orderkey")), Seq("o_orderkey"), "left_anti")
          .unionByName(slice)
      }
      // appends land in the backup store, so events are read back from it
      live("events") = Snapshot.read(spark, root, prev, "events")
      rec.op("export", "incremental", "cycle" -> c) { _ =>
        Snapshot.export(spark, live.toMap, root, cur, Some(prev))
      }
      noteManifest(cur)
      rec.op("append", "events", "cycle" -> c) { _ =>
        delta("events", c).withColumn("ts", col("ts").cast("timestamp"))
          .write.format(Source).option("root", root).option("tag", cur)
          .option("table", "events").option("schema", eventsSchema.json)
          .mode("append").save()
      }
      noteManifest(cur)
      if (tracing) rec.op("probe", "manifest_read", "cycle" -> c) { _ =>
        Snapshot.readManifest(spark, root, cur)
      }
      (step \ "lookups").children.foreach { l =>
        val args = l.children
        args.head.extract[String] match {
          case "point" =>
            val k = args(1).extract[Long]
            rec.op("lookup", "point", "cycle" -> c, "key" -> k) { op =>
              op.result(dsv2("lineitem", cur).where(col("l_orderkey") === k).collect().map(plain).toSeq)
            }
          case "range" =>
            val (lo, hi) = (args(1).extract[Long], args(2).extract[Long])
            rec.op("lookup", "range", "cycle" -> c, "lo" -> lo, "hi" -> hi) { op =>
              op.result(plain(dsv2("orders", cur)
                .where(col("o_orderkey") >= lo && col("o_orderkey") < hi)
                .agg(count(lit(1)), sum("o_orderkey"), sum("o_custkey"),
                  sum(round(col("o_totalprice") * 100).cast("long"))).head))
            }
          case "footer" =>
            rec.op("lookup", "footer", "cycle" -> c) { op =>
              op.result(plain(dsv2("lineitem", cur)
                .agg(count(lit(1)), min("l_orderkey"), max("l_orderkey")).head))
            }
        }
      }
      val target = math.max(0, c - (step \ "asof_back").extract[Int])
      val asOf = s"${tag(target)}T12:00:00Z"
      if (tracing) rec.op("probe", "asof_resolve", "cycle" -> c) { _ =>
        Snapshot.resolveAsOf(spark, root, asOf)
      }
      rec.op("restore", "lineitem", "cycle" -> c, "asof" -> asOf, "target" -> target) { op =>
        op.result(lineitemDigest(Snapshot.readAsOf(spark, root, asOf, "lineitem")))
      }
      rec.op("retain", "retain", "cycle" -> c) { op => op.result(Snapshot.retain(spark, root, Keep)) }
      rec.op("vacuum", "vacuum", "cycle" -> c) { op => op.result(Snapshot.vacuum(spark, root).size) }
    }
    out("cycles") = c

    // storage after the final retain + vacuum
    val onDisk = Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => Files.size(p)).sum
    out("disk_bytes") = onDisk
    out("newest_ref_bytes") = Snapshot.readManifest(spark, root, tag(c)).tables.values
      .flatMap(_.files).map(_.size).sum

    // a fresh session reads every tag retention kept: each table's row
    // count through the DSv2 source, and lineitem's full content
    val fresh = spark.newSession()
    val kept = mutable.LinkedHashMap[String, Any]()
    Snapshot.listTags(fresh, root).foreach { tg =>
      rec.op("check", tg) { _ =>
        val tables = Snapshot.readManifest(fresh, root, tg).tables.keys.toSeq.sorted
        val rows = tables.map(t => t -> fresh.read.format(Source).option("root", root)
          .option("tag", tg).option("table", t).load().count())
        kept(tg) = Map("rows" -> rows.toMap,
          "lineitem" -> lineitemDigest(Snapshot.read(fresh, root, tg, "lineitem")))
      }
    }
    out("kept") = kept
  }
}
