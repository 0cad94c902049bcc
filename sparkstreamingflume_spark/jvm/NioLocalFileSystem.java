package sparkgraft.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed LocalFileSystem, except that permissions are set
 * through java.nio. Without the native Hadoop library,
 * RawLocalFileSystem.setPermission forks `chmod` for every file and
 * directory it creates; this sets the same mode in-process. Modes with
 * bits beyond the 9 rwx bits (sticky, setuid, setgid) still go through
 * the stock path. Rename is LocalFileSystem's, which replaces an existing
 * file as the FileSystem-based checkpoint manager's overwriting uploads
 * need.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    // PosixFilePermission's declaration order is owner, group, others
    // rwx: ordinal i is mode bit 8 - i.
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
