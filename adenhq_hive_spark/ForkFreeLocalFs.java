package adenhq_hive_spark;

import java.io.File;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.FileSystems;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's local filesystem without a child process per file.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem} starts {@code chmod} for
 * every file, checksum file and directory it creates, and
 * {@code getFileLinkStatus} starts {@code readlink} (FileContext calls it on
 * both sides of every rename, so on every streaming checkpoint file). For a
 * {@code file:}-qualified path Hadoop hands {@code readlink} the string
 * {@code file:/...}, which the OS reads as a relative path that does not
 * exist: the child exits 1 and the empty answer means "not a link".
 *
 * <p>{@link Raw} sets plain modes with {@link Files#setPosixFilePermissions}
 * and answers a path that is not a symlink with {@code getFileStatus}, the
 * stock answer for such a path; everything else takes the stock path.
 * {@link Local} ({@code fs.file.impl}) and {@link Fs}
 * ({@code fs.AbstractFileSystem.file.impl}) are the checksummed
 * filesystems a session resolves without them, over {@link Raw}, so
 * {@code .crc} files are written and checked as before.
 */
public final class ForkFreeLocalFs {
  private ForkFreeLocalFs() {}

  /** Modes are set in the JVM only where libhadoop would not set them. */
  private static final boolean IN_JVM =
      FileSystems.getDefault().supportedFileAttributeViews().contains("posix")
          && !NativeIO.isAvailable();

  /** RawLocalFileSystem that sets modes and tests for links in the JVM. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if (!IN_JVM || (mode & ~0777) != 0) { // sticky bit: stock chmod
        super.setPermission(p, permission);
        return;
      }
      // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. bits 0400 .. 0001
      PosixFilePermission[] bits = PosixFilePermission.values();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < bits.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(bits[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      // the same File the stock readlink call is given
      if (!Files.isSymbolicLink(new File(f.toString()).toPath())) {
        return getFileStatus(f);
      }
      return super.getFileLinkStatus(f);
    }
  }

  /**
   * {@code fs.file.impl}: LocalFileSystem (checksums kept) over {@link Raw},
   * whose rename onto an existing file fails, as HDFS's does. That is the
   * one override of Hive's ProxyLocalFileSystem, which pyspark's hive-exec
   * jar registers for the file scheme: what a session resolves without
   * this class.
   */
  public static class Local extends LocalFileSystem {
    public Local() {
      super(new Raw());
    }

    @Override
    @SuppressWarnings("deprecation") // isFile, as ProxyLocalFileSystem calls it
    public boolean rename(Path src, Path dst) throws IOException {
      return !isFile(dst) && super.rename(src, dst);
    }
  }

  /** {@code fs.AbstractFileSystem.file.impl}: Hadoop's LocalFs over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** Hadoop's RawLocalFs, which hard-codes {@code new RawLocalFileSystem()}. */
  @SuppressWarnings("deprecation") // getServerDefaults(), as RawLocalFs has it
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
