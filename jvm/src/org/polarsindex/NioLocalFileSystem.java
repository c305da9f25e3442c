package org.polarsindex;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's checksummed {@code file:} FileSystem, except that it sets plain
 * rwx modes in-process.
 *
 * <p>Without the native Hadoop library (pyspark ships none),
 * {@code RawLocalFileSystem.setPermission} forks {@code chmod} for every
 * file and directory a write creates: a parquet write of 16 files forks
 * ~50 processes on executor task threads.  {@link Raw} sets the same mode
 * bits with {@code java.nio} instead; modes with the sticky bit, and JVMs
 * where the native library is loaded, keep Hadoop's own path.  Bind it
 * with {@code spark.hadoop.fs.file.impl=org.polarsindex.NioLocalFileSystem}
 * on a JVM that has this jar on its classpath.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    // PosixFilePermission's declared order is owner rwx, group rwx,
    // others rwx: constant i stands for mode bit 0400 >> i.
    private static final PosixFilePermission[] BITS =
        PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0 || NativeIO.isAvailable()) {
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
