from .pipeline import make_map_in_arrow_fn  # noqa: F401
