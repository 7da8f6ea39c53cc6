from clean_census_acs_data_spark.transforms.normalize import (  # noqa: F401
    normalize_columns,
    apply_mapping,
    apply_mapping_join,
    align_schema,
    union_all,
    cast_clean,
    clean_projection,
    unmapped_columns,
    build_mapping,
    MappingCollisionError,
)
