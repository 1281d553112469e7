package graft

import graft.analyze.{Analyze, Ddl}
import graft.core.{InferredType, TableOverride}
import graft.ingest.{Detect, Reader}
import graft.core.FileFormat
import org.apache.spark.sql.types._

class DetectSpec extends GraftSuite {
  test("sniffs CSV from constant comma counts") {
    assert(Detect.detectFromHead(datesIsoCsv.linesIterator.take(10).toSeq, "x.dat") == FileFormat.Csv)
  }
  test("sniffs PSV from constant pipe counts") {
    assert(Detect.detectFromHead(datesPsv.linesIterator.take(10).toSeq, "x.dat") == FileFormat.Psv)
  }
  test("sniffs JSON from bracket head") {
    assert(Detect.detectFromHead(datesJson.linesIterator.take(10).toSeq, "x.dat") == FileFormat.Json)
  }
  test("falls back to extension for irregular delimiter counts") {
    val lines = Seq("a,b", "c,d,e", "f")
    assert(Detect.detectFromHead(lines, "weird.json") == FileFormat.Json)
    assert(Detect.detectFromHead(lines, "weird.psv") == FileFormat.Psv)
    assert(Detect.detectFromHead(lines, "weird.txt") == FileFormat.Csv)
  }
}

class DdlSpec extends GraftSuite {
  test("table name derivation mirrors the reference rules") {
    assert(Ddl.tableName("/data/customers.csv") == "customers")
    assert(Ddl.tableName("/data/export_20240115.csv") == "export")     // _\d{3,} stripped
    assert(Ddl.tableName("/data/my-file name.csv") == "my_file_name")  // non-word → _
    assert(Ddl.tableName("/data/2024data.csv") == "t_2024data")        // leading digit
    assert(Ddl.tableName("/data/file_12.csv") == "file_12")            // <3 digits kept
  }
  test("SQL Server DDL renders bracket-quoted with NULL clauses") {
    val ddl = Ddl.render("t1", Seq(
      ("id", InferredType.IntType, false),
      ("name", InferredType.VarcharType(50), true),
      ("born", InferredType.DateTimeType, true)))
    assert(ddl.contains("CREATE TABLE [t1]"))
    assert(ddl.contains("[id] INT NOT NULL"))
    assert(ddl.contains("[name] NVARCHAR(50) NULL"))
    assert(ddl.contains("[born] DATETIME2 NULL"))
  }
  test("MERGE generation: SQL Server brackets+semicolon, ANSI quotes, all-key form") {
    val ss = Ddl.mergeSql("tgt", "stage", Seq("id", "v"), Seq("id"))
    assert(ss.contains("MERGE INTO tgt t USING stage s ON (t.[id] = s.[id])"))
    assert(ss.contains("WHEN MATCHED THEN UPDATE SET [v] = s.[v]"))
    assert(ss.contains("WHEN NOT MATCHED THEN INSERT ([id], [v]) VALUES (s.[id], s.[v]);"))
    val derby = Ddl.mergeSql("tgt", "stage", Seq("id", "v"), Seq("id"), "derby")
    assert(derby.contains("t.\"id\" = s.\"id\"") && !derby.endsWith(";"))
    // every column a key: no WHEN MATCHED clause (Derby rejects empty SET)
    val allKey = Ddl.mergeSql("tgt", "stage", Seq("a", "b"), Seq("a", "b"), "derby")
    assert(!allKey.contains("WHEN MATCHED"))
    assert(allKey.contains("WHEN NOT MATCHED THEN INSERT"))
    // a key outside the column list is a misuse, loudly
    intercept[IllegalArgumentException](Ddl.mergeSql("t", "s", Seq("a"), Seq("zz")))
  }

  test("varchar length bucketing") {
    assert(InferredType.varcharBucket(0) == 50)
    assert(InferredType.varcharBucket(50) == 50)
    assert(InferredType.varcharBucket(51) == 100)
    assert(InferredType.varcharBucket(255) == 255)
    assert(InferredType.varcharBucket(256) == 500)
    assert(InferredType.varcharBucket(501) == 1000)
    assert(InferredType.varcharBucket(1500) == 1600)
  }
}

class AnalyzeSpec extends GraftSuite {
  import spark.implicits._

  private def profileOf(values: Seq[String], name: String = "c") = {
    val df = values.toDF(name)
    Analyze.profile(df).head
  }

  test("ISO dates infer TimestampType (the intended semantics, SURVEY §1.2)") {
    val p = profileOf(Seq("1985-03-15", "1990-07-22", "2024-01-15 10:30:00"))
    assert(Analyze.inferType(p) == InferredType.DateTimeType)
  }
  test("US format dates infer TimestampType") {
    val p = profileOf(Seq("03/15/2020", "03/15/2024 02:30:15", "12/25/2023"))
    assert(Analyze.inferType(p) == InferredType.DateTimeType)
  }
  test("European dd/MM/yyyy stays varchar (pattern intentionally unsupported)") {
    val p = profileOf(Seq("15/03/2023", "25/12/2024"))
    assert(Analyze.inferType(p) == InferredType.VarcharType(50))
  }
  test("invalid dates degrade to varchar") {
    val p = profileOf(Seq("2024-13-15", "2024-02-30", "2023-02-29"))
    assert(Analyze.inferType(p) == InferredType.VarcharType(50))
  }
  test("leap day parses") {
    val p = profileOf(Seq("2024-02-29"))
    assert(Analyze.inferType(p) == InferredType.DateTimeType)
  }
  test("all-int column infers INT; overflow widens to BIGINT") {
    assert(Analyze.inferType(profileOf(Seq("1", "2", "001"))) == InferredType.IntType)
    assert(Analyze.inferType(profileOf(Seq("1", "9999999999"))) == InferredType.BigIntType)
  }
  test("numeric-not-integer infers DECIMAL(18,4)") {
    assert(Analyze.inferType(profileOf(Seq("1.5", "2"))) == InferredType.DecimalT)
  }
  test("empty/nan values don't block inference and count as nulls") {
    val p = profileOf(Seq("1", "", "nan", "2"))
    assert(Analyze.inferType(p) == InferredType.IntType)
    assert(p.hasNulls)
  }
  test("all-empty column falls back to varchar(50)") {
    assert(Analyze.inferType(profileOf(Seq("", "nan"))) == InferredType.VarcharType(50))
  }
  test("disputed-column override forces varchar length") {
    val p = profileOf(Seq("1", "2"))
    val o = TableOverride(None, Nil, Map("c" -> 500))
    assert(Analyze.inferType(p, o) == InferredType.VarcharType(500))
  }
  test("cast plan produces typed nulls for absent values") {
    val df = Seq(("1", "2024-01-15", "x"), ("", "nan", "")).toDF("i", "d", "s")
    val out = Analyze.castPlan(df, Seq(
      "i" -> InferredType.IntType, "d" -> InferredType.DateTimeType,
      "s" -> InferredType.VarcharType(50)))
    assert(out.schema("i").dataType == IntegerType)
    assert(out.schema("d").dataType == TimestampType)
    assert(out.schema("s").dataType == StringType)
    val rows = out.collect()
    assert(rows(0).getInt(0) == 1)
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1) && rows(1).isNullAt(2))
  }
  test("multi-pattern parse priority: datetime-with-time before date-only") {
    val df = Seq("2024-01-15 10:30:00").toDF("d")
    val ts = df.select(Analyze.castColumn($"d", InferredType.DateTimeType))
      .head().getTimestamp(0)
    assert(ts.toString.startsWith("2024-01-15 10:30:00"))
  }
}
