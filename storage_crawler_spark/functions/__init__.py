from storage_crawler_spark.functions.paths import (  # noqa: F401
    extension_col,
    find_extension,
    mode_bits_col,
    pg_escape_bytea,
    pg_escape_col,
)
from storage_crawler_spark.functions.owners import (  # noqa: F401
    find_owner,
    owner_col,
    parse_owners_file,
    read_owners_df,
)
