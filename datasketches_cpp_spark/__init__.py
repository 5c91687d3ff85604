from ._zipcache import install as _install_zipcache

# every Python worker that unpickles a library UDF imports this package,
# so each one stops re-reading unchanged zip archives on every task
_install_zipcache()
