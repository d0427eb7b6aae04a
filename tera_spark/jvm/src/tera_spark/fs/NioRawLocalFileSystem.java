package tera_spark.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * A RawLocalFileSystem that sets permissions in-process.
 *
 * <p>Without Hadoop's native library, RawLocalFileSystem.setPermission forks
 * {@code chmod} for every file, checksum file and directory it creates. This
 * class sets the same nine mode bits with
 * {@link Files#setPosixFilePermissions}, which follows symlinks as chmod
 * does and raises an IOException for a missing path as the forked chmod
 * does. Three cases take the parent's path: a mode with the sticky bit,
 * which java.nio cannot express; a directory with its set-user-ID or
 * set-group-ID bit on (e.g. one created in a set-group-ID directory),
 * which chmod given a numeric mode keeps and java.nio would clear; and a
 * store without POSIX attributes.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** OWNER_READ .. OTHERS_EXECUTE: mode bits 0400 .. 0001, in that order. */
  private static final PosixFilePermission[] MODE_BITS = PosixFilePermission.values();
  private static final int S_IFMT = 0170000;
  private static final int S_IFDIR = 0040000;
  private static final int S_ISUID_ISGID = 06000;

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    java.nio.file.Path file = pathToFile(p).toPath();
    try {
      int current = (Integer) Files.getAttribute(file, "unix:mode");
      boolean setIdDir = (current & S_IFMT) == S_IFDIR && (current & S_ISUID_ISGID) != 0;
      if (!permission.getStickyBit() && !setIdDir) {
        Files.setPosixFilePermissions(file, posixPermissions(permission.toShort()));
        return;
      }
    } catch (UnsupportedOperationException | IllegalArgumentException e) {
      // no "unix" attribute view on this store
    }
    super.setPermission(p, permission);
  }

  private static Set<PosixFilePermission> posixPermissions(int mode) {
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < MODE_BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(MODE_BITS[i]);
      }
    }
    return perms;
  }
}
