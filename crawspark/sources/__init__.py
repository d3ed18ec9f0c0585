from crawspark.sources.tables import (  # noqa: F401
    TableBackend, get_backend, local_frame, read_testdata)
