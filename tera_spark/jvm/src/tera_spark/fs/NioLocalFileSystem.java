package tera_spark.fs;

import java.io.IOException;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;

/**
 * The checksummed {@code file://} FileSystem over {@link NioRawLocalFileSystem}.
 *
 * <p>It writes the same {@code .crc} sidecars as LocalFileSystem and keeps
 * the one rule of Hive's ProxyLocalFileSystem, which serves {@code file://}
 * in a stock Spark install: a rename onto an existing file returns false
 * instead of replacing it.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }

  @Override
  @SuppressWarnings("deprecation") // FileSystem.isFile, as ProxyLocalFileSystem calls it
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }
}
