package dbus_spark;

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
 * Hadoop's checksummed local filesystem (same files, same .crc side
 * files, same checksum verification), except that a file or directory
 * mode is set with one in-process chmod(2) through java.nio. Without
 * libhadoop, Hadoop forks a chmod child for every file it creates.
 * Built and enabled by dbus_spark/session.py for local masters.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /**
   * Never renames onto an existing file, as Spark's stock local
   * filesystem (Hive's ProxyLocalFileSystem) does: a checkpoint log
   * entry that another writer committed first is not replaced.
   */
  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** The raw filesystem: only setPermission differs from Hadoop's. */
  public static class Raw extends RawLocalFileSystem {
    // OWNER_READ .. OTHERS_EXECUTE, the order of the bits 0400 .. 0001
    private static final PosixFilePermission[] BITS =
        PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {  // sticky, setuid, setgid: Hadoop's way
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms =
          EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
