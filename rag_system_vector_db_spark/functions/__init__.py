from . import exact, hashing, text, vector

__all__ = ["exact", "hashing", "text", "vector"]
