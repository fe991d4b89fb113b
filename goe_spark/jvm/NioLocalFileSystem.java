package goe;

import java.io.IOException;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;

/**
 * The checksummed local file system over NioRawLocalFileSystem: .crc
 * sidecars are still written and verified, only setPermission of the
 * raw layer changes. Named by fs.file.impl, so it must stay a
 * LocalFileSystem (FileSystem.getLocal casts to it).
 *
 * rename keeps the contract of the class it displaces: with pyspark's
 * jars, hive-exec registers Hive's ProxyLocalFileSystem for file:,
 * whose rename refuses to replace an existing file.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }

  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    return !pathToFile(dst).isFile() && super.rename(src, dst);
  }
}
