package reindexer_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;

/**
 * The checksummed FileContext local file system
 * ({@code fs.AbstractFileSystem.file.impl}) over {@link NioRawLocalFs}:
 * Spark's checkpoint file manager writes every offset, commit and
 * state-store file through it.
 */
public class NioLocalFs extends ChecksumFs {
  public NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new NioRawLocalFs(uri, conf));
  }
}
