package cs422pp_mapreduce_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsAction;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local file system with POSIX permissions set in-process.
 *
 * <p>Without the native Hadoop library, {@code RawLocalFileSystem.setPermission}
 * forks a {@code chmod} process, and the local file system calls it for every
 * file and directory it creates: each checkpoint log entry, state delta,
 * checksum file and sink file. {@link Raw} sets the same mode bits through
 * {@code java.nio.file.Files.setPosixFilePermissions} instead. Everything
 * else, checksum files included, behaves as the file system Spark picks
 * for {@code file:} without this class.
 *
 * <p>A public {@code LocalFileSystem} subclass, because Hadoop casts
 * {@code FileSystem.getLocal()} to that type. Selected by the session
 * builder through {@code fs.file.impl}.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /**
   * Refuses to replace an existing file, as HDFS does. The class this one
   * replaces as Spark's default for {@code file:}, Hive's
   * {@code ProxyLocalFileSystem}, keeps the same rule.
   */
  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    return !pathToFile(dst).isFile() && super.rename(src, dst);
  }

  /** The raw file system: only {@code setPermission} differs from stock. */
  public static class Raw extends RawLocalFileSystem {

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      // NIO cannot set the sticky bit: leave that mode to chmod.
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      add(perms, permission.getUserAction(), PosixFilePermission.OWNER_READ,
          PosixFilePermission.OWNER_WRITE, PosixFilePermission.OWNER_EXECUTE);
      add(perms, permission.getGroupAction(), PosixFilePermission.GROUP_READ,
          PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE);
      add(perms, permission.getOtherAction(), PosixFilePermission.OTHERS_READ,
          PosixFilePermission.OTHERS_WRITE, PosixFilePermission.OTHERS_EXECUTE);
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) {
        // not a POSIX file system
        super.setPermission(p, permission);
      }
    }

    private static void add(Set<PosixFilePermission> perms, FsAction action,
        PosixFilePermission read, PosixFilePermission write,
        PosixFilePermission execute) {
      if (action.implies(FsAction.READ)) {
        perms.add(read);
      }
      if (action.implies(FsAction.WRITE)) {
        perms.add(write);
      }
      if (action.implies(FsAction.EXECUTE)) {
        perms.add(execute);
      }
    }
  }
}
