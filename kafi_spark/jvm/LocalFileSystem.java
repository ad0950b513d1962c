package kafi_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/** Hadoop's checksummed local FileSystem, minus the fork: without the native
 *  Hadoop library RawLocalFileSystem.setPermission runs /bin/chmod for every
 *  file, .crc file and directory it creates. This one sets the 9 permission
 *  bits through java.nio and leaves any other mode (sticky bit) to Hadoop. */
public class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  public LocalFileSystem() { super(new Raw()); }

  public static class Raw extends RawLocalFileSystem {
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) { super.setPermission(p, permission); return; }
      // values() lists OWNER_READ .. OTHERS_EXECUTE, i.e. bits 0400 .. 0001
      PosixFilePermission[] bits = PosixFilePermission.values();
      EnumSet perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < 9; i++) {
        if ((mode & (0400 >> i)) != 0) perms.add(bits[i]);
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
