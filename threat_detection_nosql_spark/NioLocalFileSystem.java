package threat_detection_nosql_spark;

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
 * Hadoop's checksummed local filesystem ({@code .crc} files kept) over a
 * raw filesystem whose setPermission is one chmod(2). Without a native
 * libhadoop, RawLocalFileSystem forks a {@code chmod} process for every
 * file and directory it creates with a permission.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      int mode = permission.toShort();
      // native IO is one syscall already; java.nio has no sticky bit
      if (NativeIO.isAvailable() || (mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> bits =
          EnumSet.noneOf(PosixFilePermission.class);
      // declared OWNER_READ (0400) first, down to OTHERS_EXECUTE (0001)
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          bits.add(bit);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
    }
  }
}
