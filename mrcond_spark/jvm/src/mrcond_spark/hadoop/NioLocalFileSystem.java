package mrcond_spark.hadoop;

import org.apache.hadoop.fs.LocalFileSystem;

/** {@link LocalFileSystem}, with its {@code .crc} checksum layer, over {@link NioRawLocalFileSystem}. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
