package graft;

import java.io.IOException;
import java.nio.file.Files;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem whose chmod is the chmod(2)
 * system call. Without libhadoop, {@link RawLocalFileSystem#setPermission}
 * forks a {@code chmod} process, and Hadoop calls it for every directory
 * and every file (checksum files included) that it creates.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /**
   * Never replaces an existing file, like HDFS and like Hive's
   * ProxyLocalFileSystem, which Spark's Hive jar registers for file://.
   */
  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      // "unix:mode" sets every mode bit, the sticky bit included.
      Files.setAttribute(pathToFile(p).toPath(), "unix:mode", (int) permission.toShort());
    }
  }
}
