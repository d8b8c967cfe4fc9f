package hive_export_spark.jvm;

import java.io.IOException;
import java.io.UncheckedIOException;
import java.util.ArrayList;
import java.util.Collections;
import java.util.HashMap;
import java.util.List;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.spark.sql.SQLContext;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.execution.datasources.LogicalRelation;
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat;
import org.apache.spark.sql.sources.BaseRelation;
import org.apache.spark.sql.sources.DataSourceRegister;
import org.apache.spark.sql.sources.RelationProvider;
import org.apache.spark.sql.sources.SchemaRelationProvider;
import org.apache.spark.sql.types.StructType;
import scala.collection.immutable.Map;
import scala.jdk.javaapi.CollectionConverters;

/**
 * {@code spark.read.format("export_blocks").schema(ddl).option("path", dir).load()}:
 * the block files of an export directory, decoded by Spark's JSON file format.
 *
 * <p>A block file is named {@code *.jsonl} or {@code part-*}; {@code *.crc} files and
 * hidden names ({@code .x}, {@code _x}) are skipped. A missing path, or a directory
 * without block files, fails the load. {@code mode} defaults to {@code FAILFAST}, so a
 * malformed line fails the read, and {@code timeZone} to {@code UTC}, so zone-less
 * timestamps decode as UTC; every other option passes through to the JSON reader.
 */
public final class ExportBlocksFormat
    implements DataSourceRegister, RelationProvider, SchemaRelationProvider {

  private static final String DEFAULT_DDL = "event_id bigint, event_type string, value double";

  @Override
  public String shortName() {
    return "export_blocks";
  }

  @Override
  public BaseRelation createRelation(SQLContext ctx, Map<String, String> params) {
    return createRelation(ctx, params, StructType.fromDDL(DEFAULT_DDL));
  }

  @Override
  public BaseRelation createRelation(
      SQLContext ctx, Map<String, String> params, StructType schema) {
    if (params.get("path").isEmpty()) {
      throw new IllegalArgumentException("export_blocks requires .option(\"path\", <dir>)");
    }
    SparkSession spark = ctx.sparkSession();
    List<String> blocks = blockFiles(spark, params.get("path").get());
    // params is case-insensitive; the copy drops "path" so load() gets the files only
    java.util.Map<String, String> options = new HashMap<>();
    CollectionConverters.asJava(params).forEach((k, v) -> {
      if (!k.equalsIgnoreCase("path")) {
        options.put(k, v);
      }
    });
    if (!params.contains("mode")) {
      options.put("mode", "FAILFAST");
    }
    if (!params.contains("timeZone")) {
      options.put("timeZone", "UTC");
    }
    // the class name, not "json", keeps the V1 file source whatever useV1SourceList says
    LogicalRelation plan = (LogicalRelation) spark.read()
        .format(JsonFileFormat.class.getName())
        .schema(schema)
        .options(options)
        .load(blocks.toArray(new String[0]))
        .queryExecution()
        .analyzed();
    return plan.relation();
  }

  private static List<String> blockFiles(SparkSession spark, String dir) {
    Path root = new Path(dir);
    List<String> blocks = new ArrayList<>();
    try {
      FileSystem fs = root.getFileSystem(spark.sparkContext().hadoopConfiguration());
      if (!fs.exists(root)) {
        throw new IllegalArgumentException("export_blocks: no such path " + dir);
      }
      for (FileStatus status : fs.listStatus(root)) {
        String name = status.getPath().getName();
        if (status.isFile()
            && !name.startsWith(".")
            && !name.startsWith("_")
            && !name.endsWith(".crc")
            && (name.endsWith(".jsonl") || name.startsWith("part-"))) {
          blocks.add(status.getPath().toString());
        }
      }
    } catch (IOException e) {
      throw new UncheckedIOException(e);
    }
    if (blocks.isEmpty()) {
      throw new IllegalArgumentException("export_blocks: no block files under " + dir);
    }
    Collections.sort(blocks);
    return blocks;
  }
}
