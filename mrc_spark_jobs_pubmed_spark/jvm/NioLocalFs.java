package mrc_spark_jobs_pubmed_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The {@code file:} filesystem with Hadoop's two per-call child processes
 * replaced by {@code java.nio}. Without the native library,
 * RawLocalFileSystem runs {@code chmod} for every file and directory it
 * creates and {@code readlink} for every link-status check (FileContext
 * renames, so every checkpoint commit). The checksummed wrappers are
 * Hadoop's own, so {@code .crc} side files are written and verified as
 * before.
 *
 * <p>{@code fs.file.impl} names this class;
 * {@code fs.AbstractFileSystem.file.impl} names {@link Fs}.
 */
public class NioLocalFs extends LocalFileSystem {
  public NioLocalFs() {
    super(new Raw());
  }

  /** RawLocalFileSystem whose chmod and link checks start no process. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {  // java.nio cannot set the sticky bit
        super.setPermission(p, permission);
        return;
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), PosixFilePermissions.fromString(
          permission.getUserAction().SYMBOL + permission.getGroupAction().SYMBOL
              + permission.getOtherAction().SYMBOL));
    }

    /** A path that is not a symlink has its plain status, as the inherited
     *  code returns after {@code readlink} prints nothing. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(pathToFile(f).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /** Hadoop's RawLocalFs (package-private constructor) over {@link Raw}. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, "file", false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
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
      return true;
    }
  }

  /** Hadoop's LocalFs (checksummed) over {@link RawFs}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }
}
