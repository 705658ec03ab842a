package stellaretl.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/**
 * Checksummed {@code file://} FileContext binding over
 * {@link NioRawLocalFileSystem}: {@code org.apache.hadoop.fs.local.LocalFs}
 * with the raw filesystem swapped.
 */
public class NioLocalFs extends ChecksumFs {
  public NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new Raw(uri, conf));
  }

  /** {@code org.apache.hadoop.fs.local.RawLocalFs} over the NIO raw filesystem. */
  static class Raw extends DelegateToFileSystem {
    Raw(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new NioRawLocalFileSystem(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
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
      // any path name is valid on the local filesystem
      return true;
    }
  }
}
