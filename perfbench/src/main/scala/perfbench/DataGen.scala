package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDateTime
import java.util.Random

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.engine.Tables

/** Writes the ten input tables the program reads (`<t>.parquet` under one
  * directory) with the schemas [[graft.engine.Tables]] asserts and the
  * shapes of the TPC-H-like fixtures the program was developed against:
  * uniform keys, two-decimal money columns, a 30-word document vocabulary
  * with 5% near-duplicate documents (a copy of an earlier document plus
  * " dup") and a few exact copies, and unit-norm 64-dim embeddings.
  *
  * Row counts follow TPC-H scale factor `sf` (lineitem = 6M·sf). Every
  * table draws from its own fixed-seed `java.util.Random`, whose sequence
  * (including `nextGaussian`, built on `StrictMath`) is specified, so the
  * files hold the same values on every JVM and the expected oracle hashes
  * in `expected.json` stay valid. The benchmark seed never reaches here:
  * it picks query order and request rows, not data.
  */
object DataGen {

  private val Adjectives =
    Seq("hot", "old", "red", "small", "new", "large", "cold", "blue")
  private val Nouns =
    Seq("bolt", "plate", "gear", "ring", "rod", "anvil", "widget", "gizmo")
  private val PartTypes =
    Seq("PROMO", "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM")
  private val Segments =
    Seq("HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE")
  private val Priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("signup", "click", "error", "view", "purchase")
  private val Langs = Seq("en", "en", "en", "de", "fr", "es", "zh")
  private val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private val Day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val Events0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** Cents drawn uniformly from [lo, hi], as the exact two-decimal double. */
  private def money(r: Random, lo: Long, hi: Long): Double =
    (lo + (r.nextDouble() * (hi - lo + 1)).toLong).toDouble / 100.0

  private def n(base: Long, sf: Double): Int =
    math.max(1L, math.round(base * sf)).toInt

  def tables(sf: Double): Seq[(String, StructType, Seq[Row])] = {
    val nCust = n(150000, sf)
    val nSupp = n(10000, sf)
    val nPart = n(200000, sf)
    val nOrders = n(1500000, sf)
    val nLines = n(6000000, sf)
    val nEvents = n(1000000, sf)
    val nUsers = n(15000, sf)
    val nDocs = n(50000, sf)
    val nVecs = n(20000, sf)

    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (name, i) => Row(i, name) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))

    val rc = new Random(1)
    val customer = (0 until nCust).map { i =>
      Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        money(rc, -99999, 999999), Segments(rc.nextInt(Segments.size)))
    }
    val rs = new Random(2)
    val supplier = (0 until nSupp).map { i =>
      Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, -99999, 999999))
    }
    val rp = new Random(3)
    val part = (0 until nPart).map { i =>
      Row(i.toLong,
        Adjectives(rp.nextInt(8)) + " " + Nouns(rp.nextInt(8)),
        s"Brand#${1 + rp.nextInt(25)}", PartTypes(rp.nextInt(6)),
        1 + rp.nextInt(50), (9000 + i % 1000) / 10.0)
    }
    val ro = new Random(4)
    val orders = (0 until nOrders).map { i =>
      Row(i.toLong, ro.nextInt(nCust).toLong,
        Seq("F", "O", "P")(ro.nextInt(3)), money(ro, 100191, 49999318),
        Day0.plusDays(ro.nextInt(2405)), Priorities(ro.nextInt(5)))
    }
    val rl = new Random(5)
    val lineitem = (0 until nLines).map { _ =>
      Row(rl.nextInt(nOrders).toLong, rl.nextInt(nPart).toLong,
        rl.nextInt(nSupp).toLong, 1 + rl.nextInt(7),
        (1 + rl.nextInt(50)).toDouble, money(rl, 90068, 10499991),
        rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
        Seq("A", "N", "R")(rl.nextInt(3)), Seq("F", "O")(rl.nextInt(2)),
        Day0.plusDays(1L + rl.nextInt(2499)))
    }
    val re = new Random(6)
    // mean gap spreads the stream over January 2024 at any scale
    val gapMicros = (30L * 86400 * 1000000 / nEvents).max(1L)
    var tsMicros = 0L
    val events = (0 until nEvents).map { i =>
      tsMicros += 1 + (re.nextDouble() * 2 * gapMicros).toLong
      val value = math.round(-StrictMath.log(1.0 - re.nextDouble()) * 5000) / 100.0
      Row(i.toLong, Events0.plusNanos(tsMicros * 1000),
        re.nextInt(nUsers).toLong, EventTypes(re.nextInt(5)), value,
        s"""{"k": ${re.nextInt(100)}}""")
    }
    val rd = new Random(7)
    val texts = new Array[String](nDocs)
    val documents = (0 until nDocs).map { i =>
      val pick = rd.nextInt(1000)
      texts(i) =
        if (i > 0 && pick < 50) texts(rd.nextInt(i)) + " dup"
        else if (i > 0 && pick < 52) texts(rd.nextInt(i))
        else Seq.fill(8 + rd.nextInt(90))(Vocab(rd.nextInt(Vocab.size)))
          .mkString(" ")
      Row(i.toLong, texts(i), Langs(rd.nextInt(Langs.size)),
        s"src${rd.nextInt(20)}", texts(i).length.toLong)
    }
    val rv = new Random(8)
    val embeddings = (0 until nVecs).map { i =>
      val g = Array.fill(64)(rv.nextGaussian())
      val norm = math.sqrt(g.map(x => x * x).sum)
      Row(i.toLong, g.map(x => (x / norm).toFloat).toSeq, rv.nextInt(10))
    }

    import Tables._
    Seq(
      ("region", regionSchema, region), ("nation", nationSchema, nation),
      ("customer", customerSchema, customer),
      ("supplier", supplierSchema, supplier), ("part", partSchema, part),
      ("orders", ordersSchema, orders), ("lineitem", lineitemSchema, lineitem),
      ("events", eventsSchema, events),
      ("documents", documentsSchema, documents),
      ("embeddings", embeddingsSchema, embeddings))
  }

  /** Write every table as one parquet file `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, dir: Path, sf: Double): Unit = {
    Files.createDirectories(dir)
    tables(sf).foreach { case (name, schema, rows) =>
      val tmp = dir.resolve(s"_tmp_$name")
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $name"))
      Files.move(part, dir.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      Main.deleteTree(tmp)
    }
  }
}
