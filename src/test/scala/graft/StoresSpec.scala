package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, input_file_name, lit, max, min, sum}
import org.apache.spark.sql.types._
import graft.sources.{DataPackage, JdbcStore, LocalData, MemoryStore, Stores}
import graft.pipeline.Pipeline

class StoresSpec extends SparkSpec {
  import spark.implicits._

  test("parquet store round-trip and object listing") {
    val dir = Files.createTempDirectory("graft-pq").toString
    val store = Stores.open(spark, "parquet", dir)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    store.create("t1", df)
    assert(store.exists("t1"))
    assert(store.getObject("t1").count() == 2)
    store.appendInto("t1", df)
    assert(store.getObject("t1").count() == 4)
    intercept[Exception](store.create("t1", df)) // no replace
    store.create("t1", df, replace = true)
    assert(store.getObject("t1").count() == 2)
    store.truncate("t1")
    assert(store.getObject("t1").count() == 0)
    assert(store.getObject("t1").schema.fieldNames.toSeq == Seq("id", "name"))
  }

  test("partitioned parquet layout prunes partitions at plan time") {
    val dir = Files.createTempDirectory("graft-part").toString
    val store = graft.sources.ParquetStore(spark, dir)
    val df = Seq((1L, "F", 1.0), (2L, "O", 2.0), (3L, "P", 3.0), (4L, "F", 4.0))
      .toDF("id", "status", "v")
    store.createPartitioned("facts", df, Seq("status"))
    val read = store.getObject("facts").filter($"status" === "F")
    assert(read.count() === 2)
    val scan = read.queryExecution.executedPlan.toString
    // the status predicate must land in PartitionFilters (directory
    // pruning), not in the data filters
    assert(scan.contains("PartitionFilters: [isnotnull(status"),
      s"partition filter missing:\n$scan")
  }

  test("compact rewrites append-heavy layouts to few files, rows identical") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val store = graft.sources.ParquetStore(spark, dir)
    def dataFiles(sub: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/$sub")).count(_.getName.endsWith(".parquet"))
    }
    // flat object: five appends -> many files; compact -> one
    val df = (0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    store.create("t", df.repartition(4))
    (1 to 4).foreach(_ => store.appendInto("t", df.repartition(4)))
    assert(dataFiles("t.parquet") >= 10)
    val before = store.getObject("t").collect().map(_.toString).sorted
    store.compact("t", numFiles = 1)
    assert(dataFiles("t.parquet") === 1)
    assert(store.getObject("t").collect().map(_.toString).sorted === before)
    // partitioned object: appends multiply per-partition files; compact
    // with the partition columns keeps the layout (and its pruning)
    val pdf = (0 until 40).map(i => (i.toLong, i % 4, s"v$i")).toDF("id", "cell", "v")
    store.createPartitioned("p", pdf.repartition(4), Seq("cell"))
    (1 to 3).foreach(_ => store.appendPartitioned("p", pdf.repartition(4), Seq("cell")))
    val pBefore = store.getObject("p")
      .select($"id", $"cell".cast("int"), $"v")
      .collect().map(_.toString).sorted
    assert(dataFiles("p.parquet") > 8)
    store.compact("p", partitionCols = Seq("cell"))
    assert(dataFiles("p.parquet") === 4, "one file per partition expected")
    val after = store.getObject("p")
      .select($"id", $"cell".cast("int"), $"v")
      .collect().map(_.toString).sorted
    assert(after === pBefore)
    val scan = store.getObject("p").filter($"cell" === 1)
      .queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(cell"),
      s"partition pruning lost after compact:\n$scan")
  }

  test("orc store round-trip with pushdown reaching the scan") {
    val dir = Files.createTempDirectory("graft-orc").toString
    val store = Stores.open(spark, "orc", dir)
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
    store.create("t1", df)
    assert(store.exists("t1") && store.getObject("t1").count() == 3)
    store.appendInto("t1", df)
    assert(store.getObject("t1").count() == 6)
    store.truncate("t1")
    assert(store.getObject("t1").count() == 0)
    store.create("t1", df, replace = true)
    val q = store.getObject("t1").filter($"id" > 1).select("name")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters:") && scan.contains("GreaterThan(id,1"),
      s"filter not pushed to ORC scan:\n$scan")
    assert(q.count() === 2)
  }

  test("clustered parquet layout yields disjoint sorted key ranges per file") {
    val dir = Files.createTempDirectory("graft-clu").toString
    val store = graft.sources.ParquetStore(spark, dir)
    val df = spark.range(10000).toDF("id")
      .withColumn("k", (col("id") * 7919) % 10000) // scrambled key order
      .withColumn("v", col("id") * 2)
    store.createClustered("facts", df, Seq("k"), numFiles = 4)
    val files = new java.io.File(s"$dir/facts.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
    assert(files.size === 4)
    // each file covers a disjoint k-range (tight parquet min/max stats ->
    // row-group skipping for range predicates) and is sorted inside
    val ranges = files.map { f =>
      val ks = spark.read.parquet(f).select("k").as[Long].collect()
      assert(ks.toSeq === ks.sorted.toSeq, s"file $f not sorted")
      (ks.min, ks.max)
    }
    val sortedRanges = ranges.sortBy(_._1)
    sortedRanges.sliding(2).foreach { case Seq(a, b) =>
      assert(a._2 < b._1, s"overlapping file ranges $a vs $b")
    }
    // nothing lost in the re-layout
    assert(store.getObject("facts").count() === 10000)
  }

  test("statsManifest: tight disjoint ranges under a clustered layout, full-domain otherwise") {
    val dir = Files.createTempDirectory("graft-man").toString
    val store = graft.sources.ParquetStore(spark, dir)
    val df = spark.range(8000).toDF("id")
      .withColumn("k", (col("id") * 7919) % 8000)
    // clustered: per-file [k_min, k_max] ranges are disjoint
    store.createClustered("clu", df, Seq("k"), numFiles = 4)
    val clu = store.statsManifest("clu", Seq("k"))
      .orderBy("k_min").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(clu.length === 4 && clu.map(_._3).sum === 8000L)
    clu.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 < b._1, s"clustered ranges overlap: $a vs $b")
    }
    // unsorted write: every file spans (nearly) the whole domain —
    // nothing is skippable, which is exactly what the manifest reveals
    store.create("raw", df.repartition(4))
    val raw = store.statsManifest("raw", Seq("k")).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(raw.length === 4)
    raw.foreach { case (lo, hi) =>
      assert(hi - lo > 6000L, s"unsorted file unexpectedly tight: [$lo, $hi]")
    }
  }

  test("zValue interleaves bits in Morton order") {
    val z = spark.range(1).select(
      graft.sources.ParquetStore.zValue(Seq(lit(3L), lit(5L)), bits = 3))
      .as[Long].head()
    // x=011 -> positions 0,2,4 = 1+4; y=101 -> positions 1,3,5 = 2+32
    assert(z === 39L)
  }

  test("z-ordered layout keeps EVERY key's per-file span small, not just the leading one") {
    val dir = Files.createTempDirectory("graft-zo").toString
    val store = graft.sources.ParquetStore(spark, dir)
    // 64x64 grid in scrambled row order
    val df = spark.range(4096).toDF("id")
      .withColumn("s", (col("id") * 2654435761L) % 4096)
      .select((col("s") % 64).as("x"), (col("s") / 64).cast("long").as("y"),
        col("id").as("v"))
    store.createZOrdered("grid", df, Seq("x", "y"), numFiles = 16, bits = 6)
    store.createClustered("lex", df, Seq("x", "y"), numFiles = 16)
    def spans(obj: String, key: String): Seq[Long] = {
      val withFile = spark.read.parquet(s"$dir/$obj.parquet")
        .select(col(key), input_file_name().as("f"))
      withFile.groupBy("f")
        .agg((max(col(key)) - min(col(key))).as("span"))
        .select("span").as[Long].collect().toSeq
    }
    // z-order: a file is ~a 16x16 tile of the 64x64 grid; allow range-
    // partition sampling slack but both axes must stay FAR below the
    // global span of 63
    val zx = spans("grid", "x"); val zy = spans("grid", "y")
    assert(zx.size === 16)
    assert(zx.max <= 35, s"x spans under z-order: $zx")
    assert(zy.max <= 35, s"y spans under z-order: $zy")
    // lexicographic clustering on (x, y): x is tight but y spans nearly
    // the whole range in the files that straddle multiple x values —
    // the failure mode z-ordering exists to fix
    val ly = spans("lex", "y")
    assert(ly.max >= 55, s"expected a near-global y span under (x,y) sort: $ly")
    assert(store.getObject("grid").count() === 4096)
  }

  test("hilbertValue is a bijection whose consecutive cells are grid-adjacent") {
    // the property that separates Hilbert from Z: EVERY consecutive
    // pair of curve positions is one grid step apart (|dx|+|dy| = 1);
    // Z teleports across quadrant boundaries. Checked exhaustively on
    // the full 8x8 (bits=3) grid, plus bijectivity onto [0, 64).
    val cells = spark.range(64)
      .select((col("id") % 8).as("x"), (col("id") / 8).cast("long").as("y"))
      .select(col("x"), col("y"),
        graft.sources.ParquetStore.hilbertValue(col("x"), col("y"), bits = 3)
          .as("d"))
      .orderBy("d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cells.map(_._3).toSeq === (0L until 64L).toSeq)
    val steps = cells.sliding(2).map { case Array((x1, y1, _), (x2, y2, _)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) }.toSeq
    assert(steps.forall(_ == 1L), s"non-adjacent steps: ${steps.zipWithIndex.filter(_._1 != 1)}")
    // and the same exhaustive walk shows Z is NOT adjacent everywhere
    val zSteps = spark.range(64)
      .select((col("id") % 8).as("x"), (col("id") / 8).cast("long").as("y"))
      .select(col("x"), col("y"), graft.sources.ParquetStore
        .zValue(Seq(col("x"), col("y")), bits = 3).as("d"))
      .orderBy("d")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sliding(2).map { case Array((x1, y1), (x2, y2)) =>
        math.abs(x1 - x2) + math.abs(y1 - y2) }.toSeq
    assert(zSteps.exists(_ > 1L))
  }

  test("hilbert layout keeps per-file spans at least as tight as z-order") {
    val dir = Files.createTempDirectory("graft-ho").toString
    val store = graft.sources.ParquetStore(spark, dir)
    val df = spark.range(4096).toDF("id")
      .withColumn("s", (col("id") * 2654435761L) % 4096)
      .select((col("s") % 64).as("x"), (col("s") / 64).cast("long").as("y"),
        col("id").as("v"))
    store.createHilbertOrdered("hgrid", df, "x", "y", numFiles = 16, bits = 6)
    def spans(key: String): Seq[Long] = {
      val withFile = spark.read.parquet(s"$dir/hgrid.parquet")
        .select(col(key), input_file_name().as("f"))
      withFile.groupBy("f")
        .agg((max(col(key)) - min(col(key))).as("span"))
        .select("span").as[Long].collect().toSeq
    }
    val hx = spans("x"); val hy = spans("y")
    assert(hx.size === 16)
    // a 256-cell contiguous Hilbert run fits inside a modest rectangle
    // on BOTH axes (global span 63)
    assert(hx.max <= 35, s"x spans under hilbert: $hx")
    assert(hy.max <= 35, s"y spans under hilbert: $hy")
    assert(store.getObject("hgrid").count() === 4096)
  }

  test("csv store honors inferFields and header") {
    val dir = Files.createTempDirectory("graft-csv").toString
    val store = Stores.open(spark, "csv", dir)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    store.create("t1", df)
    val back = store.getObject("t1")
    assert(back.count() == 2)
    assert(back.schema("id").dataType.typeName == "integer" ||
      back.schema("id").dataType.typeName == "long")
  }

  test("headerless csv store refuses truncate instead of losing the schema") {
    val dir = Files.createTempDirectory("graft-csvnh").toString
    val store = graft.sources.CsvStore(spark, dir, header = false)
    store.create("t1", Seq((1L, "a")).toDF("id", "name"))
    intercept[UnsupportedOperationException](store.truncate("t1"))
    // header mode keeps column names through truncate
    val withHeader = graft.sources.CsvStore(spark, dir + "-h", header = true)
    withHeader.create("t1", Seq((1L, "a")).toDF("id", "name"))
    withHeader.truncate("t1")
    assert(withHeader.getObject("t1").schema.fieldNames.toSeq ==
      Seq("id", "name"))
  }

  test("xlsx cells without an r reference take sequential columns") {
    val dir = Files.createTempDirectory("graft-xlsx4")
    val f = dir.resolve("seq.xlsx").toFile
    val zip = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(f))
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row><c t="inlineStr"><is><t>x</t></is></c><c t="inlineStr"><is><t>y</t></is></c></row><row><c><v>7</v></c><c><v>8</v></c></row></sheetData></worksheet>""")
    zip.close()
    val back = graft.sources.XlsxStore(spark, dir.toString).getObject("seq")
    assert(back.schema.fieldNames.toSeq == Seq("x", "y"))
    assert(back.head() == Row(7L, 8L))
  }

  test("bucketed catalog tables join without a shuffle") {
    val store = graft.sources.CatalogStore(spark)
    // clean both the catalog entry and any orphan warehouse location a
    // previous JVM left behind (the embedded metastore is per-JVM, the
    // warehouse directory is not)
    for (t <- Seq("b_left", "b_right")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val facts = (1L to 200L).map(i => (i % 20, i, i * 2.0)).toDF("k", "id", "v")
    store.createBucketed("b_left", facts, Seq("k"), 4, replace = true)
    store.createBucketed("b_right", facts, Seq("k"), 4, replace = true)
    val joined = store.getObject("b_left").join(store.getObject("b_right"), "k")
    val exchanges = joined.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"bucketed join should not shuffle:\n${joined.queryExecution.executedPlan}")
    assert(joined.count() === 200L * 10) // 10 co-bucket matches per row
  }

  test("json store round-trip and store-to-store copy") {
    val jdir = Files.createTempDirectory("graft-json").toString
    val pdir = Files.createTempDirectory("graft-pq2").toString
    val json = Stores.open(spark, "json", jdir)
    val pq = Stores.open(spark, "parquet", pdir)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    json.create("t", df)
    assert(json.getObject("t").count() == 2)
    // EP3: distributed store-to-store copy, json -> parquet
    Stores.copy(json, "t", pq, "t_copy")
    assert(pq.getObject("t_copy").count() == 2)
    assert(pq.getObject("t_copy").columns.sorted.toSeq == Seq("id", "name"))
  }

  test("memory store append and replace semantics") {
    val store = new MemoryStore(spark)
    val df = Seq(1, 2).toDF("v")
    store.create("m", df)
    store.appendInto("m", df)
    assert(store.getObject("m").count() == 4)
    intercept[IllegalStateException](store.create("m", df))
  }

  test("jdbc store round-trip against embedded Derby") {
    // in-memory Derby: its driver ships with Spark, so this exercises the
    // real spark.read.jdbc / write.jdbc path with zero extra deps
    val store = JdbcStore(spark, "jdbc:derby:memory:graftdb;create=true")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
    store.create("T1", df)
    assert(store.exists("T1"))
    assert(store.getObject("T1").count() == 3)
    store.appendInto("T1", df)
    assert(store.getObject("T1").count() == 6)
    // SQLStatement parity: SELECT pushed to the database as a subquery.
    // Spark's JDBC writer quotes column names, so Derby stores them
    // case-sensitively — the raw statement must quote them too.
    val stmt = store.statement("""SELECT "id", "name" FROM T1 WHERE "id" > 1""")
    assert(stmt.count() == 4)
    // partitioned parallel read: same rows, several range predicates
    val part = store.getObject("T1", "id", 1L, 4L, 3)
    assert(part.count() == 6 && part.rdd.getNumPartitions == 3)
    store.create("T1", df, replace = true)
    assert(store.getObject("T1").count() == 3)
    // truncate issues SQL TRUNCATE (no drop/recreate): rows gone, table
    // + schema intact, appends still work
    store.truncate("T1")
    assert(store.getObject("T1").count() == 0)
    store.appendInto("T1", df)
    assert(store.getObject("T1").count() == 3)
  }

  test("jdbc reads push filters and column pruning into the database") {
    val store = JdbcStore(spark, "jdbc:derby:memory:graftpd;create=true")
    store.create("T2", Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("id", "name", "v"), replace = true)
    val q = store.getObject("T2").filter($"id" > 1).select("name")
    // the filter must ship to the database as SQL, not run Spark-side...
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters:") && scan.contains("GreaterThan(id,1"),
      s"filter not pushed to JDBC source:\n$scan")
    // ...and the generated SELECT must prune to the referenced columns
    // (id rides along for the pushed predicate; v must not be fetched)
    assert(scan.contains("ReadSchema:") && !scan.contains("v#"),
      s"column pruning missing from JDBC scan:\n$scan")
    assert(q.collect().map(_.getString(0)).sorted.toSeq == Seq("b", "c"))
  }

  test("xlsx store round-trips typed data and infers column types") {
    val dir = Files.createTempDirectory("graft-xlsx").toString
    val store = graft.sources.XlsxStore(spark, dir)
    val df = Seq((1L, "alice & <co>", 1.5), (2L, "bob \"quoted\"", 2.0),
      (3L, "carol", 3.25)).toDF("id", "name", "score")
    store.create("people", df)
    assert(store.exists("people") && store.objectNames == Seq("people"))
    val back = store.getObject("people")
    assert(back.schema.map(f => f.name -> f.dataType.typeName).toSeq ==
      Seq("id" -> "long", "name" -> "string", "score" -> "double"))
    assert(back.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "alice & <co>", 1.5), (2L, "bob \"quoted\"", 2.0),
        (3L, "carol", 3.25)))
    intercept[Exception](store.create("people", df)) // no replace
    store.appendInto("people", Seq((4L, "dan", 0.5)).toDF("id", "name", "score"))
    assert(store.getObject("people").count() == 4)
    store.truncate("people")
    assert(store.getObject("people").count() == 0)
    assert(store.getObject("people").schema.fieldNames.toSeq ==
      Seq("id", "name", "score"))
  }

  test("xlsx reader handles shared strings and blank cells") {
    // hand-built workbook exercising the parts OUR writer never emits:
    // sharedStrings.xml references and sparse rows with gaps
    val dir = Files.createTempDirectory("graft-xlsx2")
    val f = dir.resolve("ext.xlsx").toFile
    val zip = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(f))
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    put("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>""")
    put("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    put("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3"><si><t>city</t></si><si><t>pop</t></si><si><r><t>New </t></r><r><t>York</t></r></si></sst>""")
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row><row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>8000000</v></c></row><row r="3"><c r="B3"><v>42</v></c></row></sheetData></worksheet>""")
    zip.close()
    val back = graft.sources.XlsxStore(spark, dir.toString).getObject("ext")
    assert(back.schema.map(f => f.name -> f.dataType.typeName).toSeq ==
      Seq("city" -> "string", "pop" -> "long"))
    val rows = back.orderBy("pop").collect()
    // rich-text shared string reassembled; missing A3 cell -> null
    assert(rows.map(r => Option(r.get(0)) -> r.getLong(1)).toSeq ==
      Seq(None -> 42L, Some("New York") -> 8000000L))
  }

  test("xlsx reader resolves the first sheet via relationships and fixes headers") {
    // sheet stored as sheet7.xml (as Excel leaves it after deletions),
    // rId chain points to it; header has a blank and a duplicate name
    val dir = Files.createTempDirectory("graft-xlsx3")
    val f = dir.resolve("odd.xlsx").toFile
    val zip = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(f))
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    put("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet7.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>""")
    put("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Survivor" sheetId="7" r:id="rId9"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId9" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet7.xml"/></Relationships>""")
    put("xl/worksheets/sheet7.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c><c r="C1" t="inlineStr"><is><t>k</t></is></c></row><row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>2</v></c><c r="C2"><v>3</v></c></row></sheetData></worksheet>""")
    zip.close()
    val back = graft.sources.XlsxStore(spark, dir.toString).getObject("odd")
    // blank B1 -> _c1; duplicate k -> k_1; numbers inferred long
    assert(back.schema.fieldNames.toSeq == Seq("k", "_c1", "k_1"))
    assert(back.select("k", "_c1", "k_1").head() == Row(1L, 2L, 3L))
  }

  test("xlsx round-trips date and timestamp columns via date-styled serials") {
    val dir = Files.createTempDirectory("graft-xlsxdt").toString
    val store = graft.sources.XlsxStore(spark, dir)
    val df = Seq(
      (1L, java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789")),
      (2L, java.sql.Date.valueOf("1899-12-31"),
        java.sql.Timestamp.valueOf("1970-01-01 00:00:00.001")))
      .toDF("id", "d", "ts")
    store.create("dates", df)
    val back = store.getObject("dates")
    assert(back.schema.map(f => f.name -> f.dataType.typeName).toSeq ==
      Seq("id" -> "long", "d" -> "date", "ts" -> "timestamp"))
    val rows = back.orderBy("id").collect()
    assert(rows.map(_.getDate(1).toString).toSeq ==
      Seq("2024-02-29", "1899-12-31"))
    // compare instants (getTime), not rendered strings: serials are UTC
    // on both sides, so the absolute time must survive exactly (ms)
    assert(rows.map(_.getTimestamp(2).getTime).toSeq ==
      df.collect().sortBy(_.getLong(0)).map(_.getTimestamp(2).getTime).toSeq)
    // a second round-trip must keep the temporal types (write side emits
    // date-styled serials, not strings)
    store.create("dates2", back, replace = true)
    assert(store.getObject("dates2").schema.map(_.dataType.typeName).toSeq ==
      Seq("long", "date", "timestamp"))
  }

  test("sharded layout bounds rows per file and preserves content") {
    val dir = Files.createTempDirectory("graft-shard").toString
    val store = graft.sources.ParquetStore(spark, dir)
    val df = (1L to 1000L).map(i => (i, s"doc$i")).toDF("id", "text")
    store.createSharded("shards", df, maxRecordsPerShard = 100L,
      numShards = 4, orderBy = Seq("id"))
    val files = new java.io.File(s"$dir/shards.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    // 4 range partitions x 250 rows, rolled at 100 -> every file <= 100
    assert(files.length >= 10)
    files.foreach { f =>
      val n = spark.read.parquet(f.getAbsolutePath).count()
      assert(n <= 100, s"${f.getName} has $n rows")
    }
    // nothing lost or duplicated
    assert(store.getObject("shards").count() === 1000L)
    assert(store.getObject("shards").agg(sum("id")).head.getLong(0) ===
      (1L to 1000L).sum)
  }

  test("xlsx maps custom date format codes to dates, General numerics to longs") {
    val dir = Files.createTempDirectory("graft-xlsxfmt")
    val f = dir.resolve("fmt.xlsx").toFile
    val zip = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(f))
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    // style 1 -> custom numFmt 164 "dd/mm/yyyy" (a date by token
    // heuristic), style 2 -> builtin 0 General (NOT a date)
    put("xl/styles.xml",
      """<?xml version="1.0"?><styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><numFmts count="1"><numFmt numFmtId="164" formatCode="dd/mm/yyyy"/></numFmts><cellStyleXfs count="1"><xf numFmtId="14"/></cellStyleXfs><cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="164"/><xf numFmtId="0"/></cellXfs></styleSheet>""")
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row><c t="inlineStr"><is><t>d</t></is></c><c t="inlineStr"><is><t>n</t></is></c></row><row><c s="1"><v>45352</v></c><c s="2"><v>45352</v></c></row></sheetData></worksheet>""")
    zip.close()
    val back = graft.sources.XlsxStore(spark, dir.toString).getObject("fmt")
    assert(back.schema.map(f0 => f0.name -> f0.dataType.typeName).toSeq ==
      Seq("d" -> "date", "n" -> "long"))
    // serial 45352 in the 1900 system = 2024-03-01; the same number under
    // General must stay the raw long
    val r = back.head()
    assert(r.getDate(0).toString == "2024-03-01" && r.getLong(1) == 45352L)
    // cellStyleXfs' xf (numFmtId 14) must NOT leak into the cell-style
    // table: only cellXfs children count — a leak would shift indices
    // and misread style 2 as a date
  }

  test("xlsx reads a named worksheet and lists sheet names") {
    val dir = Files.createTempDirectory("graft-xlsxms")
    val f = dir.resolve("wb.xlsx").toFile
    val zip = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(f))
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Main" sheetId="1" r:id="rId1"/><sheet name="Other" sheetId="2" r:id="rId2"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/></Relationships>""")
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row><c t="inlineStr"><is><t>a</t></is></c></row><row><c><v>1</v></c></row></sheetData></worksheet>""")
    put("xl/worksheets/sheet2.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row><c t="inlineStr"><is><t>b</t></is></c></row><row><c><v>2</v></c></row></sheetData></worksheet>""")
    zip.close()
    val store = graft.sources.XlsxStore(spark, dir.toString)
    assert(store.sheetNames("wb") == Seq("Main", "Other"))
    assert(store.getObject("wb").schema.fieldNames.toSeq == Seq("a"))
    assert(store.getObject("wb", Some("Other")).head() == Row(2L))
    val err = intercept[IllegalArgumentException](
      store.getObject("wb", Some("Nope")))
    assert(err.getMessage.contains("Main, Other"))
  }

  test("xlsx refuses workbooks with doctype declarations (XXE hardening)") {
    val dir = Files.createTempDirectory("graft-xlsxxe")
    val f = dir.resolve("evil.xlsx").toFile
    val zip = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(f))
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    // classic XXE payload: external entity reading a local file
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><!DOCTYPE x [<!ENTITY xxe SYSTEM "file:///etc/hostname">]><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row><c t="inlineStr"><is><t>&xxe;</t></is></c></row></sheetData></worksheet>""")
    zip.close()
    val e = intercept[Exception](
      graft.sources.XlsxStore(spark, dir.toString).getObject("evil"))
    assert(e.getMessage != null && e.getMessage.toLowerCase.contains("doctype"))
  }

  test("xlsx append casts drifting column types to the inference lattice") {
    val dir = Files.createTempDirectory("graft-xlsxap").toString
    val store = graft.sources.XlsxStore(spark, dir)
    store.create("t", Seq((1L, 10L)).toDF("id", "v"))
    // long column receives string rows -> both sides cast to string
    // explicitly (no silent union promotion), schema stays stable after
    store.appendInto("t", Seq((2L, "x")).toDF("id", "v"))
    val back = store.getObject("t")
    assert(back.schema("v").dataType == StringType)
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("10", "x"))
    // long + double widens numerically instead of stringifying
    store.create("n", Seq((1L, 10L)).toDF("id", "v"))
    store.appendInto("n", Seq((2L, 0.5)).toDF("id", "v"))
    assert(store.getObject("n").schema("v").dataType == DoubleType)
    // a missing incoming column fails with an attributable message
    val err = intercept[IllegalArgumentException](
      store.appendInto("n", Seq(3L).toDF("id")))
    assert(err.getMessage.contains("column 'v' missing"))
    // an EXTRA incoming column must fail too, not silently vanish
    val err2 = intercept[IllegalArgumentException](
      store.appendInto("n", Seq((3L, 1.0, "x")).toDF("id", "v", "extra")))
    assert(err2.getMessage.contains("extra"))
  }

  test("xlsx participates in store-to-store copy") {
    val pq = Stores.open(spark, "parquet",
      Files.createTempDirectory("graft-c1").toString)
    val xl = Stores.open(spark, "xlsx",
      Files.createTempDirectory("graft-c2").toString)
    pq.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    Stores.copy(pq, "t", xl, "t")
    assert(xl.getObject("t").orderBy("id").collect().map(_.getString(1)).toSeq
      == Seq("a", "b"))
  }

  test("data package store maps table schema to typed csv reads") {
    val dir = Files.createTempDirectory("graft-dp")
    Files.writeString(dir.resolve("sales.csv"),
      "id,amount,day\n1,10.5,2024-01-01\n2,3.25,2024-02-29\n")
    Files.writeString(dir.resolve("datapackage.json"),
      """{"name": "fixture", "resources": [{
           "name": "sales", "path": "sales.csv",
           "dialect": {"delimiter": ",", "header": true},
           "schema": {"fields": [
             {"name": "id", "type": "integer"},
             {"name": "amount", "type": "number"},
             {"name": "day", "type": "date"}]}}]}""")
    val store = DataPackage.open(spark, dir.toString)
    assert(store.objectNames == Seq("sales"))
    val df = store.getObject("sales")
    assert(df.schema == StructType(Seq(
      StructField("id", LongType), StructField("amount", DoubleType),
      StructField("day", DateType))))
    assert(df.count() == 2)
    assert(df.filter($"day" === "2024-02-29").head().getAs[Double]("amount") == 3.25)
    intercept[UnsupportedOperationException](store.create("x", df))
  }

  test("data package inline-data resources: objects, arrays, schemaless") {
    val dir = Files.createTempDirectory("graft-dpi")
    Files.writeString(dir.resolve("datapackage.json"),
      """{"name": "inline", "resources": [
           {"name": "obj",
            "data": [{"id": 1, "city": "rome"}, {"id": 2, "city": null}],
            "schema": {"fields": [
              {"name": "id", "type": "integer"},
              {"name": "city", "type": "string"}]}},
           {"name": "arr",
            "data": [["id", "amount"], [1, 10.5], [2, 3.25]],
            "dialect": {"header": true},
            "schema": {"fields": [
              {"name": "id", "type": "integer"},
              {"name": "amount", "type": "number"}]}},
           {"name": "bare",
            "data": [{"k": "a", "v": "x"}, {"k": "b", "v": "y"}]}]}""")
    val store = DataPackage.open(spark, dir.toString)
    assert(store.objectNames == Seq("obj", "arr", "bare"))
    val obj = store.getObject("obj")
    assert(obj.schema == StructType(Seq(
      StructField("id", LongType), StructField("city", StringType))))
    assert(obj.orderBy("id").collect().map(r => Option(r.get(1))).toSeq ==
      Seq(Some("rome"), None))
    // array form: header row dropped, positional against the schema
    val arr = store.getObject("arr")
    assert(arr.count() == 2 &&
      arr.filter($"id" === 2).head().getDouble(1) == 3.25)
    // no schema -> all-string columns in first-row key order
    val bare = store.getObject("bare")
    assert(bare.schema == StructType(Seq(
      StructField("k", StringType), StructField("v", StringType))))
    assert(bare.orderBy("k").collect().map(_.getString(1)).toSeq == Seq("x", "y"))
    // a non-numeric value in an integer field must throw, not zero out
    Files.writeString(dir.resolve("datapackage.json"),
      """{"name": "bad", "resources": [{"name": "b",
           "data": [{"id": "notanumber"}],
           "schema": {"fields": [{"name": "id", "type": "integer"}]}}]}""")
    intercept[NumberFormatException](
      DataPackage.open(spark, dir.toString).getObject("b").collect())
  }

  test("local iterator and records sources") {
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))
    val fromIt = LocalData.fromIterator(spark,
      Iterator(Row(1, "a"), Row(2, "b")), schema)
    assert(fromIt.count() == 2 && fromIt.count() == 2) // re-computable
    val fromRec = LocalData.fromRecords(spark,
      Seq(Map("id" -> 3, "name" -> "c"), Map("id" -> 4, "extra" -> "zz")), schema)
    assert(fromRec.count() == 2)
    // missing key -> NULL, extra key ignored
    assert(fromRec.filter($"id" === 4).head().isNullAt(1))
  }

  test("pipeline facade composes catalog operators") {
    import org.apache.spark.sql.DataFrame
    import graft.ext.Dedup
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("", 4.0))
      .toDF("k", "v")
    val exact: DataFrame => DataFrame = Dedup.exact(Seq("k", "v"), "v")
    val out = Pipeline(df)
      .via(exact) // no (k, v) repeats: every row survives
      .filterNotEmpty("k")
      .aggregate(Seq("k"), Seq("v" -> "sum"))
      .sort(Seq("k" -> true))
      .result
    val rows = out.collect()
    assert(rows.map(_.getAs[String]("k")).toSeq == Seq("a", "b"))
    assert(rows.head.getAs[Double]("v_sum") == 3.0)
    assert(rows.head.getAs[Long]("record_count") == 2L)
    // via adds nothing of its own: the plan is the operator's plan
    assert(Pipeline(df).via(exact).result.queryExecution.analyzed
      .sameResult(exact(df).queryExecution.analyzed))
  }

  test("extension operators run as transforms") {
    import graft.ext.{Conversations, Dedup, GraphOps, TextOps}
    import graft.ops.{Ops, WindowOps}
    import graft.probes.Probes
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other words"))
      .toDF("doc_id", "text")
    val deduped = docs.transform(Dedup.byFingerprint("text", "doc_id"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(deduped == Seq(1L, 3L))
    val skew = docs.withColumn("k", lit("hot"))
      .transform(Probes.keySkew(Seq("k"), topN = 1)).head()
    assert(skew.getAs[Long]("key_count") == 3L &&
      skew.getAs[Double]("share") == 1.0)
    val html = Seq((1L, "<p>a</p><a href=\"/x\">l</a>")).toDF("doc_id", "text")
      .withColumn("links", TextOps.htmlLinks(col("text")))
      .withColumn("text", TextOps.htmlExtract(col("text"))).head()
    assert(html.getString(1) === "a l" &&
      html.getSeq[String](2) === Seq("/x"))
    val anon = Seq(("z", 1), ("z", 2), ("q", 3)).toDF("zip", "p")
      .transform(Probes.kAnonymize(Seq("zip"), k = 2))
      .select("zip").as[String].collect().toSeq
    assert(anon === Seq("z", "z"))
    val turns = Seq((1, 1, "user", "hi"), (1, 2, "assistant", "yo"))
      .toDF("conv", "ord", "role", "content")
    val conv = turns.transform(Conversations.assemble("conv", Seq("ord"),
      "role", "content")).head()
    assert(conv.getAs[String]("text") === "<|user|>\nhi\n<|assistant|>\nyo\n")
    val trunc = turns.transform(Conversations.truncate("conv", Seq("ord"),
      "role", "content", budget = 1)).head()
    assert(trunc.getAs[Long]("kept_turns") === 1L)
    val golden = Seq(("a", 1L, 1, "X"), ("a", 2L, 2, "Y"))
      .toDF("k", "ts", "id", "v")
      .transform(Ops.goldenRecord("k", Seq("v" -> "latest"), Some("ts"),
        Some("id"))).head()
    assert(golden.getAs[String]("v") === "Y")
    val ul2 = Seq((1L, "a b c")).toDF("doc_id", "text")
      .transform(TextOps.ul2Mix("doc_id", "text")).head()
    assert(Set("r", "s", "x")(ul2.getAs[String]("regime")))
    val sched = Seq((1L, "s1"), (2L, "s2")).toDF("doc_id", "source")
      .transform(TextOps.annealMixSchedule("source", phases = 2)).count()
    assert(sched === 4L)
    val boil = Seq((1L, "g", "x\ny"), (2L, "g", "x\nz"))
      .toDF("doc_id", "site", "text")
      .transform(TextOps.boilerplateLines("doc_id", "site", "text",
        minDocFrac = 0.9, minDocs = 2))
      .select("n_removed").as[Long].collect().sum
    assert(boil === 2L) // "x" stripped from both docs
    val te = Seq(("a", 1.0), ("a", 3.0)).toDF("c", "y")
      .transform(Ops.targetEncode("c", "y", smoothing = 1.0))
      .select("y_te").as[Double].collect()
    assert(te.forall(v => v > 1.0 && v < 3.0))
    val fh = Seq(Tuple1("v")).toDF("s")
      .withColumn("features", Ops.featureHash(Seq("s"), dims = 4))
      .select("features").as[Seq[Double]].collect().head
    assert(fh.map(math.abs).sum === 1.0)
    val lagged = Seq((1L, 1L, 2.0), (1L, 2L, 4.0)).toDF("k", "o", "v")
      .transform(WindowOps.lagFeatures(Seq("k"), Seq("o"), "v", Seq(1)))
      .select("v_lag_1").as[Option[Double]].collect().toSet
    assert(lagged === Set(None, Some(2.0)))
    val cs = Seq((1L,
      java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), 1L, 30.0))
      .toDF("k", "t", "tb", "v")
      .transform(WindowOps.cusumShift("k", "t", "v", target = 10.0,
        slack = 0.0, threshold = 5.0, tieBreak = "tb")).head()
    assert(cs.getAs[Boolean]("shift_flag"))
    val zed = Seq((1L, 2L)).toDF("a", "b")
      .transform(Ops.zorderRepartition("a", "b", partitions = 1)).count()
    assert(zed === 1L)
    val quar = Seq(Tuple1(Option.empty[Double])).toDF("v")
      .transform(Probes.quarantine(Seq("v_set" -> col("v").isNotNull)))
      .select("quarantine_reasons").as[String].collect().head
    assert(quar === "v_set")
    val auc = Seq((1.0, false), (2.0, true)).toDF("s", "l")
      .transform(Probes.rocAuc(col("s"), col("l"))).head()
    assert(auc.getAs[Double]("auc") === 1.0)
    val ap = Seq((1.0, false), (2.0, true)).toDF("s", "l")
      .transform(Probes.prAuc(col("s"), col("l"))).head()
    assert(ap.getAs[Double]("ap") === 1.0)
    val ben = Seq(Tuple1(19.0)).toDF("v")
      .transform(Probes.benfordDigits(col("v"))).head()
    assert(ben.getAs[Int]("digit") === 1 && ben.getAs[Double]("share") === 1.0)
    val tc = Seq(("g", "a"), ("g", "b")).toDF("q", "v")
      .transform(Probes.tCloseness(Seq("q"), "v")).head()
    assert(tc.getAs[Double]("t_closeness") === 0.0)
    val lp = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
      .transform(GraphOps.linkPrediction("s", "d")).head()
    assert(lp.getAs[Long]("common_neighbors") === 1L)
    val hh = Seq((1L, 2L)).toDF("s", "d")
      .transform(GraphOps.hits("s", "d")).orderBy("node").collect()
    assert(hh.map(_.getAs[Double]("authority")).toSeq === Seq(0.0, 1.0))
    val fs = Seq((1L, 2L, true)).toDF("id_a", "id_b", "ag")
      .transform(Dedup.fellegiSunter(Seq(("f", col("ag"), 0.8, 0.2)),
        1.0, 0.0)).head()
    assert(fs.getAs[String]("fs_decision") === "match")
    val ssj = Seq((1L, Seq("a", "b")), (2L, Seq("a", "b")))
      .toDF("id", "toks")
      .transform(Dedup.setSimilarityJoin("id", "toks", 1.0)).head()
    assert(ssj.getAs[Double]("jaccard") === 1.0)
    val holt = Seq((1L,
      java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), 1L, 3.0))
      .toDF("k", "t", "tb", "v")
      .transform(WindowOps.holtSmooth("k", "t", "v", alpha = 0.5,
        beta = 0.5, tieBreak = "tb")).head()
    assert(holt.getAs[Double]("forecast") === 3.0)
    val rc = (1 to 4).map(i => ("k", i, i.toDouble, 2.0 * i))
      .toDF("g", "i", "x", "y")
      .transform(WindowOps.rollingCorr(Seq("g"), Seq("i"), "x", "y",
        window = 3)).orderBy(col("i").desc).head()
    assert(math.abs(rc.getAs[Double]("corr") - 1.0) < 1e-12)
    val bt = Seq((1L, 2L), (1L, 2L)).toDF("w", "l")
      .transform(Ops.bradleyTerry("w", "l", iterations = 2))
      .orderBy("item").collect()
    assert(bt.map(_.getAs[Long]("wins")).toSeq === Seq(2L, 0L))
    assert(bt(1).getAs[Double]("strength") === 0.0)
    val iso = Seq((0.1, true), (0.9, false)).toDF("s", "y")
      .transform(Probes.isotonicCalibration(col("s"), col("y")))
      .orderBy("bin").collect()
    assert(iso.map(_.getAs[Double]("calibrated")).toSeq === Seq(0.5, 0.5))
    val fitPairs = (Seq.fill(10)((true, true)) ++
      Seq.fill(10)((false, false)) ++ Seq((true, false))).toDF("a", "b")
    val fsFit = fitPairs
      .transform(Dedup.fellegiSunterFit(Seq(("fa", col("a")),
        ("fb", col("b"))), iterations = 2))
      .orderBy("comparison").collect()
    assert(fsFit.map(_.getString(0)).toSeq === Seq("fa", "fb"))
    assert(fsFit.forall(r => r.getAs[Double]("m") > 0 &&
      r.getAs[Double]("m") < 1))
    val fsAuto = fitPairs
      .transform(Dedup.fellegiSunterAuto(Seq(("fa", col("a")),
        ("fb", col("b"))), upperThreshold = 100.0,
        lowerThreshold = -100.0, iterations = 2))
    assert(fsAuto.columns.contains("fs_score") &&
      fsAuto.filter(col("fs_decision") =!= "possible").count() === 0L)
    val fk = Seq(("A", "x"), ("A", "x"), ("B", "y"), ("B", "y"))
      .toDF("i", "l")
      .transform(Probes.fleissKappa(col("i"), col("l"))).head()
    assert(fk.getAs[Double]("kappa") === 1.0)
    val bci = (1 to 20).map(i => (i.toLong, 3.5)).toDF("k", "v")
      .transform(Probes.bootstrapCI(col("k"), col("v"), reps = 20)).head()
    assert(bci.getAs[Double]("ci_low") === 3.5 &&
      bci.getAs[Double]("ci_high") === 3.5)
    val pt = (1 to 20).map(i => (i.toLong, 1.0, 1.0)).toDF("k", "a", "b")
      .transform(Probes.permutationTest(col("k"), col("a"), col("b"),
        reps = 10)).head()
    assert(pt.getAs[Double]("p_value") === 1.0) // zero diffs: every flip ties
  }
}
