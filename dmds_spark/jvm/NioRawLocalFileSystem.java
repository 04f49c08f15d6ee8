package dmds_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw local file system with its permission calls made in
 * process. Without Hadoop's native library, {@code setPermission} forks
 * a {@code chmod} child for every file and directory a write creates;
 * here the same rwx bits are set with one {@code chmod(2)} through
 * java.nio. A mode with the sticky bit still goes to the stock path.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    short mode = permission.toShort();
    if ((mode & ~0777) != 0) {
      super.setPermission(p, permission);
      return;
    }
    // PosixFilePermission lists owner, group, others, each as r, w, x:
    // the order of the mode's bits from 0400 down to 0001
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(BITS[i]);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }
}
