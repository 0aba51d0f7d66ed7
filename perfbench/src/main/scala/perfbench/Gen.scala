package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything is drawn on the driver from one
  * `java.util.Random` per table, so a seed always gives the same rows in the
  * same order, and the written files hold the same values.
  */
object Gen {

  private val words = Seq("join", "hash", "row", "batch", "scan", "customer",
    "column", "filter", "small", "slow", "merge", "order", "vector", "line",
    "data", "table", "agg", "value", "key", "stream", "window", "spark", "a",
    "group", "part", "big", "sort", "query", "fast", "the")
  private val langs = Seq("en", "en", "en", "zh", "de", "fr", "es")
  private val adjs = Seq("small", "red", "blue", "hot", "old", "big", "cold", "new")
  private val nouns = Seq("ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "cog")

  private def day(r: java.util.Random, from: LocalDateTime, days: Int) =
    from.plusDays(r.nextInt(days).toLong)
  private def cents(x: Double): Double = math.round(x * 100.0) / 100.0

  /** Star-schema tables plus `events`, `documents` and `embeddings` (those
    * named in `only`), in the layout `graft.sources.Tables` reads
    * (`<dir>/<name>.parquet`). `sf`
    * scales row counts like the registry's testdata (sf 0.01: 60k lineitem
    * rows, 500 documents, 500 embeddings). Timestamps are written without a
    * zone, as the registry's oracle SQL expects.
    */
  def tables(spark: SparkSession, dir: Path, seed: Long, sf: Double,
             only: Set[String] = graft.sources.Tables.names.toSet): Unit = {
    def n(base: Double) = math.max(1, (base * sf).toInt)
    def write(name: String, schema: StructType, rows: => Seq[Row]): Unit =
      if (only(name))
        spark.createDataFrame(rows.asJava, schema).coalesce(1).write
          .parquet(dir.resolve(s"$name.parquet").toString)
    def rnd(salt: Int) = new java.util.Random(seed * 1000003L + salt)
    val I = IntegerType; val L = LongType; val D = DoubleType; val S = StringType
    val T = TimestampNTZType
    def st(fs: (String, DataType)*) = StructType(fs.map { case (c, t) => StructField(c, t) })

    write("region", st("r_regionkey" -> I, "r_name" -> S),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (nm, i) => Row(i, nm) })
    write("nation", st("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000)
    val segs = Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
    val rc = rnd(1)
    write("customer", st("c_custkey" -> L, "c_name" -> S, "c_nationkey" -> I,
      "c_acctbal" -> D, "c_mktsegment" -> S),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        cents(-999.99 + rc.nextDouble() * 10999.98), segs(rc.nextInt(5)))))
    val rs = rnd(2)
    write("supplier", st("s_suppkey" -> L, "s_name" -> S, "s_nationkey" -> I,
      "s_acctbal" -> D),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        cents(-999.99 + rs.nextDouble() * 10999.98))))
    val types = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    val rp = rnd(3)
    write("part", st("p_partkey" -> L, "p_name" -> S, "p_brand" -> S,
      "p_type" -> S, "p_size" -> I, "p_retailprice" -> D),
      (0 until nPart).map(i => Row(i.toLong,
        adjs(rp.nextInt(8)) + " " + nouns(rp.nextInt(8)), s"Brand#${1 + rp.nextInt(25)}",
        types(rp.nextInt(6)), 1 + rp.nextInt(50), cents(900.0 + (i % 1000) * 0.1))))

    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val ro = rnd(4)
    val d95 = LocalDateTime.of(1995, 1, 1, 0, 0)
    lazy val orders = (0 until nOrd).map(i => Row(i.toLong, ro.nextInt(nCust).toLong,
      Seq("F", "O", "P")(ro.nextInt(3)), cents(1000.0 + ro.nextDouble() * 499000.0),
      day(ro, d95, 2404), prio(ro.nextInt(5))))
    write("orders", st("o_orderkey" -> L, "o_custkey" -> L, "o_orderstatus" -> S,
      "o_totalprice" -> D, "o_orderdate" -> T, "o_orderpriority" -> S), orders)
    val rl = rnd(5)
    lazy val lines = (0 until nOrd).flatMap { o =>
      (1 to 1 + rl.nextInt(7)).map { ln =>
        val qty = (1 + rl.nextInt(50)).toDouble
        Row(o.toLong, rl.nextInt(nPart).toLong, rl.nextInt(nSupp).toLong, ln, qty,
          cents(qty * (900.0 + rl.nextDouble() * 1200.0)), rl.nextInt(11) / 100.0,
          rl.nextInt(9) / 100.0, Seq("A", "N", "R")(rl.nextInt(3)),
          Seq("O", "F")(rl.nextInt(2)), day(rl, d95.plusDays(1), 2498))
      }
    }
    write("lineitem", st("l_orderkey" -> L, "l_partkey" -> L, "l_suppkey" -> L,
      "l_linenumber" -> I, "l_quantity" -> D, "l_extendedprice" -> D,
      "l_discount" -> D, "l_tax" -> D, "l_returnflag" -> S, "l_linestatus" -> S,
      "l_shipdate" -> T), lines)

    val re = rnd(6)
    val nUsers = n(15000)
    val evTypes = Seq("click", "signup", "error", "view", "purchase")
    var tsMicros = 0L
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    write("events", st("event_id" -> L, "ts" -> T, "user_id" -> L,
      "event_type" -> S, "value" -> D, "props" -> S),
      (0 until n(1000000)).map { i =>
        tsMicros += (re.nextDouble() * 518e6).toLong
        Row(i.toLong, t0.plusNanos(tsMicros * 1000L), re.nextInt(nUsers).toLong,
          evTypes(re.nextInt(5)), cents(0.01 + re.nextDouble() * 490.0),
          s"""{"k": ${re.nextInt(100)}}""")
      })

    // documents: bag-of-words texts; about one in twelve is a near copy of
    // an earlier document (one word changed, a marker appended), so the
    // dedup and similarity rows find pairs
    val rd = rnd(7)
    val docs = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n(50000)).foreach { i =>
      val text =
        if (i > 10 && rd.nextInt(12) == 0) {
          val src = docs(rd.nextInt(docs.size)).split(' ')
          src(rd.nextInt(src.length)) = words(rd.nextInt(words.size))
          src.mkString(" ") + " dup"
        } else Seq.fill(8 + rd.nextInt(72))(words(rd.nextInt(words.size))).mkString(" ")
      docs += text
    }
    write("documents", st("doc_id" -> L, "text" -> S, "lang" -> S, "source" -> S,
      "n_chars" -> L),
      docs.toSeq.zipWithIndex.map { case (text, i) =>
        Row(i.toLong, text, langs(rd.nextInt(langs.size)), s"src${i % 20}",
          text.length.toLong)
      })

    // embeddings: unit vectors around ten label centroids; about one in
    // twelve is a slightly perturbed copy of an earlier vector
    val rv = rnd(8)
    val dim = 64
    def unit(v: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(v.map(x => x * x).sum); v.map(_ / nrm)
    }
    val centroids = Array.fill(10)(unit(Array.fill(dim)(rv.nextGaussian())))
    val vecs = scala.collection.mutable.ArrayBuffer.empty[(Array[Double], Int)]
    (0 until n(50000)).foreach { i =>
      vecs += (if (i > 10 && rv.nextInt(12) == 0) {
        val (v, l) = vecs(rv.nextInt(vecs.size))
        (unit(v.map(_ + rv.nextGaussian() * 0.03)), l)
      } else {
        val l = rv.nextInt(10)
        (unit(centroids(l).map(_ * 1.2 + rv.nextGaussian() * 0.15)), l)
      })
    }
    write("embeddings", st("vec_id" -> L, "embedding" -> ArrayType(FloatType),
      "label" -> I),
      vecs.toSeq.zipWithIndex.map { case ((v, l), i) =>
        Row(i.toLong, v.map(_.toFloat).toSeq, l)
      })
  }

  // ---- NSL-KDD ----------------------------------------------------------

  /** attack name → (class, weight within its class) — the 40 attack names
    * of the NSL-KDD train and test files, with the train file's class mix
    * (normal 53%, DoS 37%, Probe 9%, R2L 0.8%, U2R 0.04%) raised for the
    * two rare classes so every class reaches the per-cluster forests.
    */
  private val attacks: Seq[(String, String)] = graft.schema.NslKdd.attackDict
    .toSeq.filter(_._1 != "normal").sortBy(_._1)
  private val classMix = Seq("normal" -> 0.52, "DoS" -> 0.34, "Probe" -> 0.10,
    "R2L" -> 0.035, "U2R" -> 0.005)
  private val protocols = Seq("tcp", "udp", "icmp")
  private val services = Seq("http", "private", "domain_u", "smtp", "ftp_data",
    "eco_i", "other", "ecr_i", "telnet", "finger", "ftp", "auth", "Z39_50",
    "uucp", "courier", "bgp", "whois", "uucp_path", "iso_tsap", "time", "imap4",
    "nnsp", "vmnet", "urp_i", "domain", "ctf", "csnet_ns", "supdup", "discard",
    "http_443", "daytime", "gopher", "efs", "systat", "link", "exec", "hostnames",
    "name", "mtp", "echo", "klogin", "login", "ldap", "netbios_dgm", "sunrpc",
    "netbios_ssn", "netstat", "netbios_ns", "kshell", "ssh", "nntp", "pop_3",
    "sql_net", "IRC", "ntp_u", "rje", "remote_job", "pop_2", "X11", "printer",
    "shell", "urh_i", "tim_i", "red_i", "pm_dump", "tftp_u", "http_8001",
    "aol", "harvest", "http_2784")
  private val flags = Seq("SF", "S0", "REJ", "RSTR", "RSTO", "SH", "S1", "S2",
    "RSTOS0", "S3", "OTH")

  /** One NSL-KDD row (43 comma-separated fields: 41 features, the attack
    * name, the difficulty level). Each class has its own feature profiles,
    * but 15% of rows take another class's profile, so no feature separates
    * the classes and the forests keep splitting.
    */
  private def kddRow(r: java.util.Random): String = {
    val u = r.nextDouble()
    val cls = classMix.scanLeft(("", 0.0)) { case ((_, acc), (c, w)) => (c, acc + w) }
      .tail.find(_._2 >= u).map(_._1).getOrElse("normal")
    val name = if (cls == "normal") "normal" else {
      val names = attacks.filter(_._2 == cls).map(_._1)
      names(math.min(names.size - 1, (math.abs(r.nextGaussian()) * names.size / 2.5).toInt))
    }
    // the feature profile: the row's own class 85% of the time, in one of
    // two sub-profiles per class; rows sit close to their profile, so the
    // clusterer converges, while the swapped 15% keep the labels noisy
    val prof = if (r.nextDouble() < 0.85) cls else classMix(r.nextInt(5))._1
    val k = Seq("normal", "DoS", "Probe", "R2L", "U2R").indexOf(prof)
    val sub = r.nextInt(2)
    def rate(base: Double) =
      f"${math.max(0.0, math.min(1.0, base * (1 + sub) / 1.5 + r.nextGaussian() * 0.02))}%.2f"
    def cnt(mean: Double, cap: Int) =
      math.max(0, math.min(cap, (mean * (1 + 2 * sub) * math.exp(r.nextGaussian() * 0.05)).toInt))
    def pick[T](xs: Seq[T], usual: Int, among: Int) =
      xs(if (r.nextDouble() < 0.97) usual % xs.size else r.nextInt(math.min(among, xs.size)))
    val proto = pick(protocols, k + sub, 3)
    val svc = pick(services, k * 7 + sub * 3, 20)
    val flag = pick(flags, k + sub, 11)
    val loggedIn = if (r.nextDouble() < Seq(0.7, 0.1, 0.2, 0.6, 0.8)(k)) 1 else 0
    val rootShell = if (r.nextDouble() < Seq(0.002, 0.0, 0.0, 0.02, 0.3)(k)) 1 else 0
    // su_attempted keeps the files' out-of-domain 2.0 value on a few rows
    val su = { val s = r.nextDouble(); if (s < 0.0008) "2" else if (s < 0.002) "1" else "0" }
    val fields = Seq(
      cnt(Seq(200, 2, 5, 900, 60)(k), 42000).toString, proto, svc, flag,
      cnt(Seq(2000, 400, 20, 5000, 1500)(k), 1000000).toString,
      cnt(Seq(4000, 100, 30, 1200, 3000)(k), 1000000).toString,
      (if (r.nextDouble() < 0.0005) 1 else 0).toString,
      (if (k == 1 && r.nextDouble() < 0.05) r.nextInt(3) else 0).toString,
      (if (r.nextDouble() < 0.001) 1 else 0).toString,
      cnt(Seq(0.3, 0.05, 0.05, 2, 1.5)(k), 77).toString,
      (if (k == 3 && r.nextDouble() < 0.3) 1 else 0).toString,
      loggedIn.toString,
      cnt(Seq(0.1, 0.01, 0.01, 0.5, 2)(k), 884).toString,
      rootShell.toString, su,
      cnt(Seq(0.1, 0.01, 0.01, 0.5, 2)(k), 993).toString,
      cnt(Seq(0.05, 0.01, 0.01, 0.3, 1)(k), 43).toString,
      (if (r.nextDouble() < Seq(0.001, 0.0, 0.0, 0.01, 0.2)(k)) 1 else 0).toString,
      cnt(Seq(0.01, 0.0, 0.0, 0.1, 0.3)(k), 9).toString,
      "0", // num_outbound_cmds: constant in both reference files
      (if (r.nextDouble() < 0.0005) 1 else 0).toString,
      (if (r.nextDouble() < Seq(0.01, 0.0, 0.0, 0.3, 0.01)(k)) 1 else 0).toString,
      cnt(Seq(8, 150, 40, 2, 3)(k), 511).toString,
      cnt(Seq(10, 20, 15, 2, 3)(k), 511).toString,
      rate(Seq(0.02, 0.6, 0.1, 0.05, 0.05)(k)), rate(Seq(0.02, 0.6, 0.1, 0.05, 0.05)(k)),
      rate(Seq(0.05, 0.2, 0.4, 0.1, 0.05)(k)), rate(Seq(0.05, 0.2, 0.4, 0.1, 0.05)(k)),
      rate(Seq(0.95, 0.2, 0.5, 0.9, 0.9)(k)), rate(Seq(0.03, 0.1, 0.4, 0.05, 0.05)(k)),
      rate(Seq(0.1, 0.02, 0.3, 0.1, 0.1)(k)),
      cnt(Seq(150, 250, 200, 80, 60)(k), 255).toString,
      cnt(Seq(190, 20, 30, 40, 20)(k), 255).toString,
      rate(Seq(0.8, 0.1, 0.3, 0.5, 0.4)(k)), rate(Seq(0.05, 0.1, 0.4, 0.05, 0.05)(k)),
      rate(Seq(0.1, 0.05, 0.6, 0.4, 0.3)(k)), rate(Seq(0.03, 0.01, 0.1, 0.05, 0.05)(k)),
      rate(Seq(0.02, 0.6, 0.1, 0.05, 0.05)(k)), rate(Seq(0.02, 0.6, 0.1, 0.05, 0.05)(k)),
      rate(Seq(0.05, 0.2, 0.4, 0.1, 0.05)(k)), rate(Seq(0.05, 0.2, 0.4, 0.1, 0.05)(k)),
      name, (1 + r.nextInt(21)).toString)
    fields.mkString(",")
  }

  /** Writes `rows` NSL-KDD rows to `path` and returns the file's bytes'
    * MD5, so callers can check that one seed gives identical bytes.
    */
  def kdd(path: Path, seed: Long, rows: Int): String = {
    val r = new java.util.Random(seed)
    val sb = new java.lang.StringBuilder(rows * 140)
    (0 until rows).foreach(_ => sb.append(kddRow(r)).append('\n'))
    val bytes = sb.toString.getBytes(StandardCharsets.US_ASCII)
    Files.write(path, bytes)
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString
  }
}
