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
 * Hadoop's checksummed local filesystem over a raw one whose
 * setPermission goes through java.nio. Without Hadoop's native
 * library the stock raw filesystem runs chmod in a child process, and
 * it sets the permission of every directory it makes and every file
 * it creates. See localfs.py.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        // java.nio cannot set the sticky bit
        super.setPermission(p, permission);
        return;
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), posix(permission.toShort()));
    }

    /** The rwx bits of a mode; values() runs owner rwx, group rwx, others rwx. */
    static Set<PosixFilePermission> posix(short mode) {
      Set<PosixFilePermission> out = EnumSet.noneOf(PosixFilePermission.class);
      PosixFilePermission[] bits = PosixFilePermission.values();
      for (int i = 0; i < bits.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          out.add(bits[i]);
        }
      }
      return out;
    }
  }
}
