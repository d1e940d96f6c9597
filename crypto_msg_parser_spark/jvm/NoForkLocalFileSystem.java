package crypto_msg_parser_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
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

/**
 * Hadoop's checksummed local FileSystem, except that setting a permission
 * or reading a link status never starts a process.
 *
 * <p>Without the native Hadoop library, RawLocalFileSystem.setPermission
 * runs {@code chmod} through Shell.execCommand: one process and one
 * stderr-reader thread for every file, {@code .crc} file and directory a
 * write creates. {@link Raw} sets the same mode bits in-process. Checksums,
 * {@code .crc} files, rename and commit stay LocalFileSystem's.
 *
 * <p>{@code fs.file.impl} names this class (FileSystem API);
 * {@code fs.AbstractFileSystem.file.impl} names {@link Fs} (FileContext
 * API, which streaming checkpoints write through).
 */
public class NoForkLocalFileSystem extends LocalFileSystem {

  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  /**
   * RawLocalFileSystem whose setPermission calls chmod(2) through NIO, and
   * whose getFileLinkStatus runs readlink only on a symlink.
   */
  public static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS = {
      PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
      PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_READ,
    };
    private static final int S_IFMT = 0170000, S_IFDIR = 0040000, SET_ID = 06000;

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      java.nio.file.Path file = pathToFile(p).toPath();
      // NIO cannot set the sticky bit, and its chmod(2) would clear the
      // set-id bits that chmod(1) keeps on a directory: leave both to Hadoop
      int mode = (Integer) Files.getAttribute(file, "unix:mode");
      if (permission.getStickyBit() || ((mode & S_IFMT) == S_IFDIR && (mode & SET_ID) != 0)) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      short bits = permission.toShort();
      for (int i = 0; i < BITS.length; i++) {
        if ((bits & (1 << i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(file, perms);
    }

    /**
     * Hadoop runs {@code readlink} on every call, four times for each file
     * a FileContext rename moves. A path that is not a symlink gets the
     * plain status that Hadoop returns for it; a symlink goes to Hadoop.
     */
    @Override
    public FileStatus getFileLinkStatus(Path p) throws IOException {
      if (Files.isSymbolicLink(pathToFile(p).toPath())) {
        return super.getFileLinkStatus(p);
      }
      return getFileStatus(p);
    }
  }

  /** LocalFs over {@link Raw}: the FileContext twin of this class. */
  public static class Fs extends ChecksumFs {
    /** The URI is file:/// whatever is passed, as for LocalFs. */
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** RawLocalFs over {@link Raw}. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1; // no default port for file:///
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true; // any path is valid on the local file system
    }
  }
}
