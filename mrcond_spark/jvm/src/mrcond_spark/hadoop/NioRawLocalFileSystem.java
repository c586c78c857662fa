package mrcond_spark.hadoop;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * {@link RawLocalFileSystem} that sets permissions and reads link status
 * without starting a process.
 *
 * <p>Without the native {@code libhadoop}, the stock class runs a shell
 * {@code chmod} for every {@code setPermission} and a {@code readlink} for
 * every {@code getFileLinkStatus}. This class does the same work through
 * {@code java.nio} and leaves every case NIO cannot express to the stock code.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    int mode = permission.toShort();
    java.nio.file.Path file = pathToFile(p).toPath();
    // NIO cannot set the sticky/set-id bits, and a four-digit shell chmod
    // keeps a directory's set-id bits, which NIO would clear
    if (mode > 0777 || keepsSetIdBits(file)) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(BITS[i]);
      }
    }
    Files.setPosixFilePermissions(file, perms);
  }

  private static boolean keepsSetIdBits(java.nio.file.Path file) throws IOException {
    int st = (Integer) Files.getAttribute(file, "unix:mode");
    return (st & 0170000) == 0040000 && (st & 06000) != 0;
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    // stock reads the link first and, for anything but a symlink, returns
    // getFileStatus(f)
    if (Files.isSymbolicLink(pathToFile(f).toPath())) {
      return super.getFileLinkStatus(f);
    }
    return getFileStatus(f);
  }
}
