package graft.io

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.lib.output.FileOutputCommitter
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName

/** Parquet files written on the driver, with every byte going through
  * Hadoop `FileSystem`, so `file:`, `hdfs://` and `s3a://` paths behave
  * as they do for a Spark write.
  */
object DriverParquet {

  /** Replace the directory `dir` with one parquet file of `rows`, laid out
    * as a one-task Spark write leaves it: `part-00000-<uuid>-c000<codec>.parquet`,
    * plus `_SUCCESS` when the conf asks for the marker (Hadoop's default).
    *
    * The file is built by parquet-hadoop's record writer from `conf`, the
    * call a Spark write task makes, so every `parquet.*` key in `conf`
    * (codec, page and row-group sizes, dictionary) applies as it does
    * there. It is written under a hidden name (a leading `.`, invisible
    * to Spark's file listing) and renamed into place. A crash leaves at
    * most a hidden file, and a rerun deletes `dir` first, so a replayed
    * write converges.
    *
    * @return the written file
    */
  def overwrite[T](dir: Path, conf: Configuration, ws: WriteSupport[T],
      rows: Iterator[T]): Path = {
    val fs = dir.getFileSystem(conf)
    fs.delete(dir, true)
    val codec = CompressionCodecName.fromConf(conf.get(ParquetOutputFormat.COMPRESSION))
    val name = s"part-00000-${UUID.randomUUID()}-c000${codec.getExtension}.parquet"
    val tmp = new Path(dir, s".$name")
    val w = new ParquetOutputFormat[T](ws)
      .getRecordWriter(conf, tmp, codec, ParquetFileWriter.Mode.CREATE)
    try rows.foreach(w.write(null, _)) finally w.close(null)
    val out = new Path(dir, name)
    if (!fs.rename(tmp, out)) throw new IOException(s"could not rename $tmp to $out")
    if (conf.getBoolean(FileOutputCommitter.SUCCESSFUL_JOB_OUTPUT_DIR_MARKER, true))
      fs.create(new Path(dir, FileOutputCommitter.SUCCEEDED_FILE_NAME), true).close()
    out
  }
}
