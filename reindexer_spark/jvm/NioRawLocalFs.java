package reindexer_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/**
 * FileContext's raw local file system over {@link NioRawLocalFileSystem};
 * the overrides are those of Hadoop's {@code RawLocalFs}, whose
 * constructors are not visible outside its package.
 */
public class NioRawLocalFs extends DelegateToFileSystem {
  public NioRawLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(uri, new NioRawLocalFileSystem(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
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
    return true; // as stock: the local OS validates names
  }
}
