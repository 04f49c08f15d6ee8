package dmds_spark.jvm;

import org.apache.hadoop.fs.FSDataInputStream;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;

/**
 * The checksummed local file system ({@code file://}) over
 * {@link NioRawLocalFileSystem}: {@code .crc} sidecars are still written
 * beside every file and verified on every read.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }

  /**
   * Leaves a file that failed its checksum where it is, so every read of
   * it fails with the same {@code ChecksumException}. The stock file
   * system forks {@code df} and moves the file and its {@code .crc} into
   * {@code bad_files/} under the highest writable directory of the mount
   * (the root directory when run as root); a store whose manifest names
   * directories, not files, would then read the directory without the
   * file's rows and report no error.
   */
  @Override
  public boolean reportChecksumFailure(
      Path p, FSDataInputStream in, long inPos, FSDataInputStream sums, long sumsPos) {
    return false;
  }
}
