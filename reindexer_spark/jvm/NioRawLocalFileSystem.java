package reindexer_spark.jvm;

import java.io.DataOutput;
import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.io.UncheckedIOException;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.BasicFileAttributes;
import java.nio.file.attribute.GroupPrincipal;
import java.nio.file.attribute.PosixFilePermissions;
import java.nio.file.attribute.UserPrincipal;
import java.util.Map;

import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw local file system with its permission and link calls made
 * through java.nio.  Without libhadoop the stock class forks a child
 * process for each of them: {@code chmod} per setPermission, {@code ls -ld}
 * per status whose permission, owner or group is read, and {@code readlink}
 * per link status.  Everything else (streams, rename, delete) is
 * the stock code.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if ((permission.toShort() & ~0777) != 0) {
      super.setPermission(p, permission); // java.nio cannot set the sticky bit
      return;
    }
    try {
      Files.setPosixFilePermissions(pathToFile(p).toPath(),
          PosixFilePermissions.fromString(permission.toString()));
    } catch (NoSuchFileException e) {
      throw new FileNotFoundException("File " + p + " does not exist");
    }
  }

  @Override
  public FileStatus getFileStatus(Path f) throws IOException {
    File file = pathToFile(f);
    BasicFileAttributes a;
    try {
      a = Files.readAttributes(file.toPath(), BasicFileAttributes.class);
    } catch (NoSuchFileException e) {
      throw new FileNotFoundException("File " + f + " does not exist");
    }
    Path qualified = new Path(file.getPath()).makeQualified(getUri(), getWorkingDirectory());
    return new NioFileStatus(a, getDefaultBlockSize(f), qualified);
  }

  @Override
  public FileStatus[] listStatus(Path f) throws IOException {
    File file = pathToFile(f);
    // stock builds a single file's status without getFileStatus
    return file.isFile() ? new FileStatus[] {getFileStatus(f)} : super.listStatus(f);
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    java.nio.file.Path local = pathToFile(f).toPath();
    if (!Files.isSymbolicLink(local)) { // an lstat: NOFOLLOW_LINKS
      return getFileStatus(f);
    }
    Path target = getLinkTarget(f);
    FileStatus status;
    try {
      // every field but the link's name is the target's, as in the stock class
      FileStatus to = getFileStatus(f);
      status = new FileStatus(to.getLen(), false, to.getReplication(), to.getBlockSize(),
          to.getModificationTime(), to.getAccessTime(), to.getPermission(), to.getOwner(),
          to.getGroup(), target, f);
    } catch (FileNotFoundException dangling) {
      status = new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
          target, f);
    }
    status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), f, target));
    return status;
  }

  @Override
  public Path getLinkTarget(Path f) throws IOException {
    try {
      return new Path(Files.readSymbolicLink(pathToFile(f).toPath()).toString());
    } catch (NoSuchFileException e) {
      throw new FileNotFoundException("File " + f + " does not exist");
    }
  }

  /** A status whose permission, owner and group load on first read, as in the stock class. */
  static final class NioFileStatus extends FileStatus {
    NioFileStatus(BasicFileAttributes a, long blockSize, Path path) {
      super(a.size(), a.isDirectory(), 1, blockSize, a.lastModifiedTime().toMillis(),
          a.lastAccessTime().toMillis(), null, null, null, path);
    }

    private synchronized void load() {
      if (!super.getOwner().isEmpty()) {
        return;
      }
      try {
        // the "unix" view, unlike the "posix" one, keeps the sticky bit
        // that stock reads from ls; like stock, a link reads as its target
        Map<String, Object> a =
            Files.readAttributes(new File(getPath().toUri()).toPath(), "unix:mode,owner,group");
        setPermission(new FsPermission((short) ((Integer) a.get("mode") & 01777)));
        setOwner(((UserPrincipal) a.get("owner")).getName());
        setGroup(((GroupPrincipal) a.get("group")).getName());
      } catch (NoSuchFileException gone) {
        // deleted since the status was taken: keep the defaults, as stock does
      } catch (IOException e) {
        throw new UncheckedIOException("Error while loading permissions of " + getPath(), e);
      }
    }

    @Override
    public FsPermission getPermission() {
      load();
      return super.getPermission();
    }

    @Override
    public String getOwner() {
      load();
      return super.getOwner();
    }

    @Override
    public String getGroup() {
      load();
      return super.getGroup();
    }

    @Override
    @SuppressWarnings("deprecation") // stock overrides it too: Writable callers see loaded fields
    public void write(DataOutput out) throws IOException {
      load();
      super.write(out);
    }
  }
}
