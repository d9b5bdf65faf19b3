from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

# The eight per-codec TIFF lanes that image_tiff_matrix replaced, each
# mapped to the variant-name family (``tiff.TIFF_VARIANTS`` names start
# with it) that holds its shapes.  The parity and plan-lint sweeps keep
# one case per former lane, run over that family's rows of the matrix.
FOLDED_TIFF_LANES = {
    "image_tiff_decode": "strips",
    "image_tiff_tiled": "tiles",
    "image_tiff_palette": "palette",
    "image_tiff_jpeg": "jpeg",
    "image_tiff_ccitt": "g4",
    "image_tiff_mh": "mh",
    "image_tiff_g3": "g3",
    "image_tiff_planar": "planar",
}


@pytest.fixture(scope="session")
def spark():
    from reindexer_spark import get_spark

    # sized from SPARK_GRAFT_CPUS (default: the host's cores), like every
    # other session the package builds
    spark = get_spark("reindexer-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
