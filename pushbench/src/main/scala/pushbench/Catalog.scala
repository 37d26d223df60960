package pushbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** One `information_schema` column row, in the columns_meta shape the
  * engine's extract step produces (database … col_description). */
final case class ColumnRow(
    database: String, cluster: String, schema: String, table: String,
    tableDescription: Option[String], isView: Boolean,
    colName: String, colType: String, sortOrder: Int,
    colDescription: Option[String])

/** Seeded synthetic catalog. The same seed and size give the same rows;
  * only names, types and descriptions vary with the seed, the table and
  * column counts are fixed by the size, so run times compare across
  * seeds. Descriptions carry commas, double quotes and multi-byte UTF-8;
  * types such as `decimal(18,2)` carry commas too. */
object Catalog {

  val Header: Seq[String] = Seq("database", "cluster", "schema_name", "table_name",
    "table_description", "is_view", "col_name", "col_type", "col_sort_order",
    "col_description")

  private val words = Vector(
    "order", "customer", "revenue", "daily", "ledger", "event", "session", "user",
    "amount", "status", "region", "created", "updated", "price", "quantity", "id",
    "naïve", "café", "résumé", "größe", "データ", "顧客", "売上", "ключ", "→", "€",
    "north, south", "the \"raw\" feed", "a,b", "\"quoted\"")
  private val nameWords = Vector("order", "customer", "revenue", "daily", "ledger",
    "event", "session", "user", "amount", "status", "region", "price", "item", "fact")
  private val types = Vector("bigint", "int", "varchar(255)", "varchar(64)",
    "decimal(18,2)", "numeric(10,4)", "timestamp", "date", "double", "boolean", "text")

  /** `tables` tables holding exactly `columns` columns between them. */
  def generate(seed: Long, tables: Int, columns: Int): Vector[ColumnRow] = {
    require(columns >= tables, "every table needs a column")
    val rnd = new scala.util.Random(seed)
    val counts = Array.fill(tables)(1)
    (0 until columns - tables).foreach(_ => counts(rnd.nextInt(tables)) += 1)
    def phrase(n: Int): String = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    (0 until tables).iterator.flatMap { t =>
      val schema = s"s${rnd.nextInt(4)}"
      val table = s"${nameWords(rnd.nextInt(nameWords.size))}_$t"
      val tdesc = if (rnd.nextDouble() < 0.8) Some(phrase(2 + rnd.nextInt(5))) else None
      val isView = rnd.nextDouble() < 0.1
      (1 to counts(t)).map { c =>
        ColumnRow("warehouse", "main", schema, table, tdesc, isView,
          s"c${c}_${nameWords(rnd.nextInt(nameWords.size))}", types(rnd.nextInt(types.size)), c,
          if (rnd.nextDouble() < 0.3) Some(phrase(2 + rnd.nextInt(4))) else None)
      }
    }.toVector
  }

  /** One table whose column description holds an embedded newline —
    * the known edge case for both extract paths. */
  def newlineEdge: Vector[ColumnRow] = Vector(
    ColumnRow("edge", "main", "s0", "notes", Some("table with a note"), false,
      "id", "bigint", 1, Some("primary key")),
    ColumnRow("edge", "main", "s0", "notes", Some("table with a note"), false,
      "body", "text", 2, Some("line one\nline two \"quoted\"")))

  def values(r: ColumnRow): Seq[Option[String]] = Seq(Some(r.database), Some(r.cluster),
    Some(r.schema), Some(r.table), r.tableDescription, Some(r.isView.toString),
    Some(r.colName), Some(r.colType), Some(r.sortOrder.toString), r.colDescription)

  /** Spark-CSV field: quoted when it holds a separator, quote or line
    * break, with `\"` for an inner quote (Spark's default escape). An
    * absent value is an empty unquoted field, which Spark reads as null. */
  private def csvField(v: Option[String]): String = v match {
    case None => ""
    case Some(s) if s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r' || c == '\\') =>
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case Some(s) => s
  }

  /** Write the rows as `files` header-carrying CSV files under `dir`. */
  def writeCsv(rows: Vector[ColumnRow], dir: File, files: Int): Unit = {
    dir.mkdirs()
    val per = math.max(1, (rows.size + files - 1) / files)
    rows.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(dir, f"part-$i%04d.csv")), UTF_8))
      try {
        w.write(Header.mkString(",")); w.write('\n')
        chunk.foreach { r => w.write(values(r).map(csvField).mkString(",")); w.write('\n') }
      } finally w.close()
    }
  }

  /** Load the rows into a fresh embedded Derby table `META`; returns the
    * JDBC url and the extract query that reads them back. */
  def writeDerby(rows: Vector[ColumnRow], dbDir: File): (String, String) = {
    val url = s"jdbc:derby:${dbDir.getAbsolutePath};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute(
        """CREATE TABLE META ("database" VARCHAR(128), "cluster" VARCHAR(128),
          |"schema_name" VARCHAR(128), "table_name" VARCHAR(128),
          |"table_description" VARCHAR(2000), "is_view" VARCHAR(5),
          |"col_name" VARCHAR(128), "col_type" VARCHAR(128), "col_sort_order" INT,
          |"col_description" VARCHAR(2000))""".stripMargin)
      st.close()
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement("INSERT INTO META VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?)")
      rows.foreach { r =>
        values(r).zipWithIndex.foreach {
          case (v, 8) => ps.setInt(9, v.get.toInt)
          case (Some(v), i) => ps.setString(i + 1, v)
          case (None, i) => ps.setNull(i + 1, java.sql.Types.VARCHAR)
        }
        ps.addBatch()
      }
      ps.executeBatch(); conn.commit(); ps.close()
    } finally conn.close()
    val cols = Header.map(h => "\"" + h + "\"").mkString(", ")
    (url, s"SELECT $cols FROM META")
  }
}

/** What the push must publish for a catalog, built in plain Scala from
  * the rows alone: the deduplicated node and relation rows as field maps
  * (the staged CSV headers as keys), their order-independent hashes, and
  * the exact byte size of a parity-mode envelope. */
final class Expected(rows: Vector[ColumnRow]) {
  import Expected._

  val columns: Int = rows.size

  private val (nodeRows, relRows) = {
    val nodes = mutable.LinkedHashSet.empty[Seq[(String, String)]]
    val rels = mutable.LinkedHashSet.empty[Seq[(String, String)]]
    def node(k: String, label: String, name: String): Unit =
      nodes += Seq("KEY" -> k, "name" -> name, "LABEL" -> label)
    def rel(s: String, sl: String, e: String, el: String, t: String, rt: String): Unit =
      rels += Seq("START_KEY" -> s, "START_LABEL" -> sl, "END_KEY" -> e, "END_LABEL" -> el,
        "REVERSE_TYPE" -> rt, "TYPE" -> t)
    rows.foreach { r =>
      val db = s"database://${r.database}"
      val cl = s"${r.database}://${r.cluster}"
      val sc = s"${r.database}://${r.cluster}.${r.schema}"
      val tk = s"$sc/${r.table}"
      val ck = s"$tk/${r.colName}"
      node(db, "Database", r.database); node(cl, "Cluster", r.cluster)
      node(sc, "Schema", r.schema); node(tk, "Table", r.table)
      rel(db, "Database", cl, "Cluster", "CLUSTER", "CLUSTER_OF")
      rel(cl, "Cluster", sc, "Schema", "SCHEMA", "SCHEMA_OF")
      rel(sc, "Schema", tk, "Table", "TABLE", "TABLE_OF")
      r.tableDescription.foreach { d =>
        node(s"$tk/_description", "Description", d)
        rel(tk, "Table", s"$tk/_description", "Description", "DESCRIPTION", "DESCRIPTION_OF")
      }
      node(ck, "Column", r.colName)
      rel(tk, "Table", ck, "Column", "COLUMN", "COLUMN_OF")
      r.colDescription.foreach { d =>
        node(s"$ck/_description", "Description", d)
        rel(ck, "Column", s"$ck/_description", "Description", "DESCRIPTION", "DESCRIPTION_OF")
      }
    }
    (nodes.toVector, rels.toVector)
  }

  val nodes: Long = nodeRows.size
  val relations: Long = relRows.size
  val nodeHash: Long = nodeRows.iterator.map(rowHash).sum
  val relationHash: Long = relRows.iterator.map(rowHash).sum

  /** UTF-8 bytes of the single parity envelope `{"nodes": [a, b], "relations": [c]}`. */
  val parityBytes: Long = {
    def list(rs: Vector[Seq[(String, String)]]): Long =
      rs.iterator.map(jsonBytes).sum + 2L * math.max(0, rs.size - 1)
    """{"nodes": [], "relations": []}""".length + list(nodeRows) + list(relRows)
  }

  /** Mismatches between one push's published rows and this catalog. */
  def check(s: Published, parity: Boolean): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (s.invalid > 0) errs += s"${s.invalid} invalid messages, first: ${s.firstError}"
    if (s.nodes != nodes || s.nodeHash != nodeHash)
      errs += s"nodes: got ${s.nodes} rows, want $nodes (hash match ${s.nodeHash == nodeHash})"
    if (s.relations != relations || s.relationHash != relationHash)
      errs += s"relations: got ${s.relations} rows, want $relations (hash match ${s.relationHash == relationHash})"
    if (parity && (s.messages != 1 || s.bytes != parityBytes))
      errs += s"parity: got ${s.messages} messages of ${s.bytes} bytes, want 1 of $parityBytes"
    errs.result()
  }
}

object Expected {

  /** 64-bit FNV-1a of the row's fields sorted by name, finished with
    * murmur3's fmix64 so that sums of row hashes spread. A multiset of
    * rows hashes to the sum of its rows' hashes: order never matters. */
  def rowHash(fields: Seq[(String, String)]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(c: Int): Unit = { h ^= c; h *= 0x100000001b3L }
    fields.sortBy(_._1).foreach { case (k, v) =>
      k.foreach(c => mix(c)); mix(1)
      if (v == null) mix(3) else v.foreach(c => mix(c))
      mix(2)
    }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L; h ^ (h >>> 33)
  }

  private def escapedBytes(s: String): Long = s.foldLeft(0L) { (n, c) =>
    n + (c match {
      case '"' | '\\' | '\n' | '\r' | '\t' => 2
      case c if c < ' ' => 6
      case c if c < 0x80 => 1
      case c if c < 0x800 => 2
      case c if Character.isSurrogate(c) => 2 // a pair encodes to 4 bytes
      case _ => 3
    })
  }

  /** Bytes of `{"K": "v", "K2": "v2"}` for one row. */
  def jsonBytes(fields: Seq[(String, String)]): Long =
    2 + fields.iterator.map { case (k, v) => escapedBytes(k) + escapedBytes(v) + 6 }.sum +
      2L * (fields.size - 1)
}
