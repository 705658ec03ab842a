package stellaretl.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * {@link RawLocalFileSystem} that changes permissions and tests for symlinks
 * with system calls. Without the Hadoop native library the stock class runs
 * {@code chmod} for every file and directory it creates and
 * {@code readlink} for every {@code getFileLinkStatus}: one process each.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if ((permission.toShort() & ~0777) != 0) {
      // sticky bit: not expressible as PosixFilePermission
      super.setPermission(p, permission);
      return;
    }
    Files.setPosixFilePermissions(
        pathToFile(p).toPath(), PosixFilePermissions.fromString(permission.toString()));
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    // the stock method returns getFileStatus(f) whenever f is not a link
    if (!Files.isSymbolicLink(pathToFile(f).toPath())) {
      return getFileStatus(f);
    }
    return super.getFileLinkStatus(f);
  }
}
