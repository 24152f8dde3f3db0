from . import synthetic, tables  # noqa: F401
