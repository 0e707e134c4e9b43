package sparkgraft;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's checksummed local file system ({@code fs.file.impl}) over {@link Raw}.
 *
 * <p>Without {@code libhadoop}, Hadoop's {@code RawLocalFileSystem} forks {@code chmod}
 * for every file and directory it creates and {@code readlink} for every
 * {@code getFileLinkStatus} (two per FileContext rename). {@link Raw} does both
 * in-process through {@code java.nio}; everything else is Hadoop's own code.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /**
   * The one rule of Hive's {@code ProxyLocalFileSystem}, which {@code file:} resolves to
   * on Spark's classpath: a rename onto an existing file returns false and moves nothing.
   */
  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** Hadoop's {@code LocalFs} ({@code fs.AbstractFileSystem.file.impl}) over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** Hadoop's {@code RawLocalFs}, delegating to {@link Raw}. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, "file", false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @Deprecated
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

  /** {@code RawLocalFileSystem} that sets permissions and reads links without a child process. */
  public static class Raw extends RawLocalFileSystem {

    /**
     * chmod(2) through {@code java.nio}. The parent's method runs when {@code libhadoop} is
     * loaded (it forks nothing then) and for a mode with bits beyond rwx: the sticky bit, the
     * only one an {@link FsPermission} holds, which {@link PosixFilePermission} cannot express.
     */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if (NativeIO.isAvailable() || (mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) { // OWNER_READ = 0400 first
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          perms.add(bit);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    /**
     * The parent's {@code getFileLinkStatus} on its default path
     * ({@code deprecatedGetFileLinkStatusInternal}), line for line, with
     * {@link #readLink} in place of {@code FileUtil.readLink}'s {@code readlink} fork.
     * Like the parent, it reads the link at {@code new File(f.toString())}, so a qualified
     * path ({@code file:/...}) is never seen as a link. The parent's other path, selected
     * only by its {@code useStatIfAvailable} test hook, forks {@code stat}; it is not followed.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      FileStatus fi = linkStatus(f);
      if (fi.isSymlink()) {
        fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
      }
      return fi;
    }

    private FileStatus linkStatus(Path f) throws IOException {
      String target = readLink(new File(f.toString()));
      try {
        FileStatus fs = getFileStatus(f);
        if (target.isEmpty()) {
          return fs;
        }
        return new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
            fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(), fs.getOwner(),
            fs.getGroup(), new Path(target), f);
      } catch (FileNotFoundException e) {
        // a dangling link, or the link was deleted meanwhile
        if (!target.isEmpty()) {
          return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
              new Path(target), f);
        }
        throw e;
      }
    }

    /** What {@code readlink <f>} prints, trimmed; "" where it fails (not a link, missing). */
    private static String readLink(File f) {
      try {
        return Files.readSymbolicLink(f.toPath()).toString().trim();
      } catch (IOException | InvalidPathException | UnsupportedOperationException e) {
        return "";
      }
    }
  }
}
